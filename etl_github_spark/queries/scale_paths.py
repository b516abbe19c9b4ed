"""Scale-path siblings of the exhaustive similarity/dedup baselines.

Each operator here replaces an O(N²) / O(N·Q) exact baseline with a
bounded-candidate design that survives 100 TB. Most carry full DuckDB
oracles and are driver-window-eligible like any other query: the
SRP-banded siblings (embedding pairs, SemDeDup, kNN-classify) embed
their projection planes as double literals in the SQL so the candidate
set replays bit-identically (``_srp_bands_cte`` ↔ ``_srp_bands_df``),
and the k-means/PQ entries replay the sampled fits the same way. The
few whose bucketing is genuinely Spark-side-only are instead pinned
against their exact sibling by tests (subset / same-top-k) in
tests/test_similarity_variants.py and tests/test_scale_siblings.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from ._util import T, fxp, par
from .registry import query

_DIM = 64


def _srp_bands_cte(n_bits: int, band_size: int, extra_col: str = "") -> str:
    """Shared ``bk``/``bands`` CTE text for the SRP-banded oracles: the
    SRP planes are embedded as double literals (repr round-trips
    exactly), each plane dot is the same CAST-to-double product
    left-fold the cosine oracle uses, and the bucket/band arithmetic is
    integer — so the candidate set replays exactly. ``extra_col``
    carries an additional grouping column (e.g. ``label``) through the
    band rows for cell-local variants. Sign robustness: the Spark side
    sums plane products with numpy (pairwise order); order error ~1e-13
    relative vs a minimum fixture |plane dot| of 3e-5 — eight orders of
    magnitude of margin, asserted in tests/test_scale_siblings.py.
    """
    from .similarity import _srp_planes

    planes = _srp_planes(n_bits, _DIM)
    n_bands = n_bits // band_size
    plane_dots = []
    for vals in planes:
        lits = ", ".join(repr(v) for v in vals)
        plane_dots.append(
            f"list_reduce(list_transform(range(1, {_DIM + 1}), "
            f"i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * ([{lits}][CAST(i AS INT)])), "
            "(acc, x) -> acc + x)"
        )
    bucket = " + ".join(
        f"(CASE WHEN ({d}) >= 0 THEN (CAST(1 AS BIGINT) << {p}) ELSE 0 END)"
        for p, d in enumerate(plane_dots)
    )
    ex_bk = f", e.{extra_col}" if extra_col else ""
    ex_band = f", {extra_col}" if extra_col else ""
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id{ex_band}, {b} AS band, (bucket >> {b * band_size}) & {(1 << band_size) - 1} AS bb FROM bk"
        for b in range(n_bands)
    )
    return (
        f"bk AS (SELECT e.vec_id{ex_bk}, {bucket} AS bucket FROM embeddings e),\n"
        f"    bands AS (\n      {band_rows}\n    )"
    )


def _srp_bands_df(emb, n_bits: int, band_size: int, extra_cols: tuple[str, ...] = ()):
    """Spark twin of :func:`_srp_bands_cte`: bucketize ``emb`` with the
    same SRP planes, then explode one row per (band, band-bucket).

    ``extra_cols`` are carried through the band rows (e.g. ``label`` for
    cell-local variants). The returned frame is ``localCheckpoint``-ed
    (lazy) because every caller self-joins it — both join sides must
    read ONE materialization, not recompute the bucketize per side.
    Extracted so the three banded siblings (embedding pairs, SemDeDup,
    kNN-classify) cannot drift from each other or from the oracle CTE.
    """
    from .similarity import _srp_planes, srp_bucketize

    n_bands = n_bits // band_size
    data = srp_bucketize(emb, _srp_planes(n_bits, _DIM))
    bands = data.select(
        "vec_id",
        *extra_cols,
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("bucket"), b * band_size)
                        .bitwiseAND(F.lit((1 << band_size) - 1))
                        .alias("bb"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("x"),
    ).select(
        "vec_id",
        *extra_cols,
        "embedding",
        F.col("x.band").alias("band"),
        F.col("x.bb").alias("bb"),
    )
    return bands.localCheckpoint(eager=False)


def _srp_pairs_sql(n_bits: int = 16, band_size: int = 4) -> str:
    """DuckDB twin of :func:`dedup_embedding_lsh_pairs` — banded SRP
    candidates (shared CTE text: :func:`_srp_bands_cte`) scored with
    the deterministic left-fold cosine."""
    from .dedup import _EMB_DOT

    ab = _EMB_DOT.format(a="ea.embedding", b="eb.embedding")
    aa = _EMB_DOT.format(a="ea.embedding", b="ea.embedding")
    bb = _EMB_DOT.format(a="eb.embedding", b="eb.embedding")
    return f"""
    WITH {_srp_bands_cte(n_bits, band_size)},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bb = b.bb AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {ab} / (sqrt({aa}) * sqrt({bb})) AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE {ab} / (sqrt({aa}) * sqrt({bb})) >= 0.35
    """


@query(
    "dedup_embedding_lsh_pairs",
    sql=_srp_pairs_sql(),
    tags=("dedup", "neardup", "embedding", "lsh"),
)
def dedup_embedding_lsh_pairs(spark, sf_dir):
    """SRP-LSH-bucketed embedding near-dup pairs — the 100 TB sibling of
    dedup_embedding_cosine's all-pairs baseline.

    Banded multi-probe over 16 SRP bits (4 bands × 4 bits): vectors
    sharing any 4-bit band bucket become candidates; the exact
    deterministic left-fold cosine then filters at the same 0.35
    threshold. Candidate generation is a bucket-local self-join
    (shuffle key = (band, band-bucket)) — O(Σ bucket²) instead of
    O(N²), and the bucket id is the partition key at scale. Recall:
    a qualifying pair is missed only if all 4 bands split it; each SRP
    bit agrees with p = 1 − θ/π, so borderline-0.35 pairs are found
    with moderate probability while truly-near duplicates (cos ≥ 0.8)
    are found with p → 1. Pinned as a subset of the exact baseline.
    """
    from .dedup import dedup_embedding_cosine  # noqa: F401  (exact sibling)
    from .similarity import cosine

    n_bits, band_size = 16, 4
    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    bands = _srp_bands_df(emb, n_bits, band_size)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bb") == F.col("b.bb"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = cosine(F.col("ea"), F.col("eb"))
    return cand.select("vec_a", "vec_b", cos.alias("cos_sim")).where(
        F.col("cos_sim") >= 0.35
    )


def _semdedup_lsh_sql(n_bits: int = 16, band_size: int = 4) -> str:
    """DuckDB twin of :func:`dedup_semantic_prune_lsh`: the shared SRP
    band CTEs (label carried through), cell-AND-bucket-local candidate
    join, then the exact SemDeDup earlier-id prune over the candidate
    set only."""
    from .dedup import _EMB_DOT, _SEMDEDUP_TAU

    ab = _EMB_DOT.format(a="ea.embedding", b="eb.embedding")
    aa = _EMB_DOT.format(a="ea.embedding", b="ea.embedding")
    bb = _EMB_DOT.format(a="eb.embedding", b="eb.embedding")
    return f"""
    WITH {_srp_bands_cte(n_bits, band_size, extra_col="label")},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bb = b.bb AND a.label = b.label
       AND a.vec_id < b.vec_id
    ),
    hit AS (
      SELECT c.vec_b AS vec_id,
             max({ab} / (sqrt({aa}) * sqrt({bb}))) AS max_cos
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE {ab} / (sqrt({aa}) * sqrt({bb})) >= {_SEMDEDUP_TAU}
      GROUP BY c.vec_b
    )
    SELECT e.vec_id, e.label,
           coalesce(h.max_cos, -1.0) AS max_cos_to_earlier,
           h.vec_id IS NULL AS keep
    FROM embeddings e LEFT JOIN hit h USING (vec_id)
    """


@query(
    "dedup_semantic_prune_lsh",
    sql=_semdedup_lsh_sql(),
    tags=("dedup", "embedding", "semantic", "lsh"),
)
def dedup_semantic_prune_lsh(spark, sf_dir):
    """SRP-banded SemDeDup — the 100 TB sibling of
    :func:`~.dedup.dedup_semantic_prune`'s cell-exhaustive baseline.

    The exact form compares all pairs INSIDE each quantizer cell
    (Σ|cell|² candidates) — bounded only while the quantizer's k grows
    with the corpus (the round-9 10× probe measured 18× wall when cells
    grow instead). This sibling re-splits every cell with 16 SRP bits
    in 4 bands of 4: candidates must share (cell, band, band-bucket),
    so the join is bucket-local with Σ|cell ∩ bucket|² volume even when
    a cell outgrows its budget — the same banded-recall trade as
    `dedup_embedding_lsh_pairs`, applied inside cells. The prune rule
    is unchanged (drop a vector iff some LOWER-id candidate in its cell
    has cos ≥ tau; max_cos reported over found candidates, so it is a
    lower bound of the exact sibling's), and both the bucketing and the
    left-fold cosine replay bit-identically in the oracle.
    """
    from .dedup import _SEMDEDUP_TAU
    from .similarity import cosine

    n_bits, band_size = 16, 4
    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "label", "embedding")
    bands = _srp_bands_df(emb, n_bits, band_size, extra_cols=("label",))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bb") == F.col("b.bb"))
            & (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    hit = (
        cand.select("vec_b", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .where(F.col("cos") >= _SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.max("cos").alias("max_cos"))
    )
    return emb.join(hit, emb["vec_id"] == hit["vec_b"], "left").select(
        "vec_id",
        "label",
        F.coalesce("max_cos", F.lit(-1.0)).alias("max_cos_to_earlier"),
        F.col("vec_b").isNull().alias("keep"),
    )


def _knn_lsh_sql(n_bits: int = 16, band_size: int = 4) -> str:
    """DuckDB twin of :func:`sim_knn_classify_lsh`: the shared SRP band
    CTEs (label carried through), query×corpus bucket-local candidate
    join, then the exact top-5 cosine vote over the candidate set."""
    from .dedup import _EMB_DOT

    ab = _EMB_DOT.format(a="ea.embedding", b="eb.embedding")
    aa = _EMB_DOT.format(a="ea.embedding", b="ea.embedding")
    bb = _EMB_DOT.format(a="eb.embedding", b="eb.embedding")
    return f"""
    WITH {_srp_bands_cte(n_bits, band_size, extra_col="label")},
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, q.label AS true_label,
             c.vec_id AS cid, c.label AS clabel
      FROM bands q JOIN bands c
        ON q.band = c.band AND q.bb = c.bb
      WHERE q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
    ),
    scored AS (
      SELECT cand.qid, cand.true_label, cand.cid, cand.clabel,
             {ab} / (sqrt({aa}) * sqrt({bb})) AS cos_sim
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.qid
      JOIN embeddings eb ON eb.vec_id = cand.cid
    ),
    top AS (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rnk
      FROM scored
    ),
    votes AS (
      SELECT qid, true_label, clabel, count(*) AS cnt
      FROM top WHERE rnk <= 5 GROUP BY qid, true_label, clabel
    )
    SELECT qid AS query_vec_id, true_label,
           clabel AS pred_label, CAST(cnt AS BIGINT) AS votes
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, clabel) AS r
          FROM votes)
    WHERE r = 1
    """


@query(
    "sim_knn_classify_lsh",
    sql=_knn_lsh_sql(),
    tags=("similarity", "classify", "lsh"),
)
def sim_knn_classify_lsh(spark, sf_dir):
    """SRP-banded k-NN label prediction — the 100 TB sibling of
    :func:`~.similarity.sim_knn_classify`'s exact O(N·Q) baseline.

    The exact form broadcasts the query set into a crossJoin; the query
    set is every 50th vector (O(N/50) rows), so the broadcast grows
    with the corpus — the same pinned-in-every-executor OOM class the
    round-9 clustering de-broadcast removed. This sibling generates
    candidates with the shared 16-bit/4-band SRP banding
    (:func:`_srp_bands_df` ↔ :func:`_srp_bands_cte`): a corpus vector
    is scored for a query only if they share a (band, band-bucket), so
    the join is a shuffle keyed by (band, bb) with Σ|bucket_q×bucket_c|
    volume instead of N·Q, and no frame is ever pinned. The vote logic
    is unchanged from the exact form: exact left-fold cosine on the
    candidates, top-5 per query (ties by cid), majority vote (ties by
    votes desc, label). Recall trade as `dedup_embedding_lsh_pairs`:
    truly-near neighbors (cos ≥ 0.8 — the regime where weak labeling
    is trustworthy) collide with p → 1, so there the vote matches the
    exact form; at the fixture's weak-similarity regime (5-NN at cos
    0.3–0.45) per-neighbor recall is ~50% and predictions are the
    RESTRICTION of the exact vote to colliding candidates — pinned
    conditionally (exact top-5 fully collided ⇒ same answer) plus a
    full numpy replay in tests/test_scale_siblings.py. A query whose
    every band is split from the whole corpus is absent from the
    output — the banding replays bit-identically in the oracle, so
    both sides agree on that set.
    """
    from pyspark.sql import Window

    from .similarity import cosine

    n_bits, band_size = 16, 4
    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "label", "embedding")
    bands = _srp_bands_df(emb, n_bits, band_size, extra_cols=("label",))
    q = bands.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        "band",
        "bb",
    )
    c = bands.where(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        "band",
        "bb",
    )
    cand = q.join(c, ["band", "bb"]).dropDuplicates(["qid", "cid"])
    scored = cand.select(
        "qid",
        "true_label",
        "cid",
        "clabel",
        cosine(F.col("ce"), F.col("qe")).alias("cos_sim"),
    )
    top = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "cid")
        ),
    ).where(F.col("rnk") <= 5)
    votes = top.groupBy("qid", "true_label", "clabel").agg(F.count("*").alias("cnt"))
    return (
        votes.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cnt"), "clabel")
            ),
        )
        .where(F.col("r") == 1)
        .select(
            F.col("qid").alias("query_vec_id"),
            "true_label",
            F.col("clabel").alias("pred_label"),
            F.col("cnt").cast("long").alias("votes"),
        )
    )


def _multi_query_sql() -> str:
    from .similarity import _fold_dot_sql

    return """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
    cos AS (
      SELECT q.q_id, e.vec_id,
             {dot} / (sqrt({n1}) * sqrt({n2})) AS cos_sim
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM cos
    )
    SELECT q_id, vec_id, cos_sim, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """.format(
        dot=_fold_dot_sql("e.embedding", "q.qe"),
        n1=_fold_dot_sql("e.embedding", "e.embedding"),
        n2=_fold_dot_sql("q.qe", "q.qe"),
    )


@query("sim_topk_multi_query", sql=_multi_query_sql(), tags=("similarity", "topk"))
def sim_topk_multi_query(spark, sf_dir):
    """Batched similarity search: top-5 neighbors for EACH of a set of
    query vectors in one plan — the shape a real retrieval pipeline
    runs (single-query top-k is the toy case).

    Broadcast the query set, score every (vector, query) pair with the
    deterministic left-fold cosine, rank per query with a window. One
    scan of the corpus regardless of |Q|; the per-query partial top-k
    runs map-side inside the window's rank filter. At 100 TB with large
    |Q| the crossJoin becomes the bucketed-LSH candidate join and the
    window keys on (query, bucket) — same plan skeleton.
    """
    from pyspark.sql import Window

    from .similarity import cosine

    emb = T(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


def _ivf_topk_sql(nprobe: int = 3) -> str:
    """DuckDB twin of :func:`sim_ivf_topk`. The probe-cell choice uses
    per-cell mean centroids whose float sums are aggregation-order
    dependent — but they only SELECT cells, and the fixture cell-score
    gaps (≥ 2.4e-4) dwarf summation-order error (~1e-15), so both
    engines pick identical probes (margin asserted in
    tests/test_scale_siblings.py). Scoring inside probed cells is the
    deterministic left-fold cosine → bit-identical cos_sim values.
    """
    from .dedup import _EMB_DOT

    cos = "{dot} / (sqrt({na}) * sqrt({nb}))".format(
        dot=_EMB_DOT.format(a="e.embedding", b="q.qe"),
        na=_EMB_DOT.format(a="e.embedding", b="e.embedding"),
        nb=_EMB_DOT.format(a="q.qe", b="q.qe"),
    )
    return f"""
    WITH q AS (SELECT embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id = 0),
    ex AS (
      SELECT label, t.i AS i, CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
      FROM embeddings, range(1, {_DIM + 1}) t(i)
    ),
    cent AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
    qd AS (
      SELECT t.i AS i, CAST(qe[CAST(t.i AS INT)] AS DOUBLE) AS qx
      FROM q, range(1, {_DIM + 1}) t(i)
    ),
    cs AS (
      SELECT c.label,
             sum(c.m * qd.qx) / (sqrt(sum(c.m * c.m)) * sqrt(sum(qd.qx * qd.qx))) AS score
      FROM cent c JOIN qd ON c.i = qd.i
      GROUP BY c.label
    ),
    probe AS (
      SELECT cs.label FROM cs, q
      ORDER BY (cs.label = q.qlabel) DESC, cs.score DESC, cs.label
      LIMIT {nprobe}
    )
    SELECT e.vec_id, {cos} AS cos_sim
    FROM embeddings e JOIN probe p ON e.label = p.label, q
    ORDER BY cos_sim DESC, e.vec_id LIMIT 10
    """


@query("sim_ivf_topk", sql=_ivf_topk_sql(), tags=("similarity", "topk", "ivf"))
def sim_ivf_topk(spark, sf_dir, nprobe: int = 3):
    """IVF-style ANN top-k: coarse quantizer → probe nearest cells →
    exact re-rank within the probed cells.

    The coarse quantizer here is the fixture ``label`` column with
    per-cell mean centroids (at 100 TB the cells come from distributed
    k-means and vectors are written bucketed by cell id, so a probe is
    a partition-pruned scan, not a filter). The query probes the
    ``nprobe`` nearest centroids and scans only those cells —
    O(N·nprobe/k) scored vectors per query instead of O(N). Centroid
    fit is one narrow aggregation (posexplode → avg per (label, dim));
    the centroid table (k × dim, here 10×64) collects to the driver —
    the one permissible collect, it IS the index metadata. Pinned:
    results are a subsequence of the exhaustive ranking; the query's
    own cell is always probed, so vec 0 ranks first.
    """
    from .similarity import cosine

    emb = T(spark, sf_dir, "embeddings")
    probe, q_vec = _label_centroid_probe(emb, nprobe)
    qe = F.array(*[F.lit(float(v)) for v in q_vec])
    return (
        emb.where(F.col("label").isin(probe))
        .select("vec_id", cosine(F.col("embedding"), qe).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _label_centroid_probe(emb, nprobe: int):
    """(probe cells, query vector) for the label-cell IVF queries.

    Coarse-quantizer fit: per-(cell, dim) mean via one narrow partial+
    final aggregation — shuffle volume = k×dim rows, scale-safe (float
    mean order-dependence is irrelevant here: means only *select*
    cells, they never touch result values; cell-score margins dwarf
    summation-order error — asserted in tests/test_scale_siblings.py).
    The centroid table (k × dim) collects to the driver — the one
    permissible collect, it IS the index metadata. The query's own cell
    is always probed first, matching the oracle's ORDER BY."""
    import numpy as np

    cent_rows = (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    k = max(r["label"] for r in cent_rows) + 1
    centroids = np.zeros((k, _DIM))
    for r in cent_rows:
        centroids[r["label"], r["i"]] = r["m"]

    q_row = emb.where(F.col("vec_id") == 0).select("embedding", "label").first()
    q_vec, q_label = q_row["embedding"], int(q_row["label"])
    qn = np.asarray(q_vec, dtype=np.float64)
    qn = qn / np.linalg.norm(qn)
    norms = np.linalg.norm(centroids, axis=1)
    order = np.argsort(-(centroids @ qn) / np.where(norms > 0, norms, 1.0))
    probe = list(dict.fromkeys([q_label, *map(int, order)]))[:nprobe]
    return probe, q_vec


def _probe_cell_store(spark, write_fn, probe, q_vec, prefix: str):
    """Shared write→probe→collect cycle for the physical-store queries:
    `write_fn(emb_path)` lays the cell-partitioned store down, then the
    probe is a partition-pruned scan + fold cosine + top-10 — collected
    so the scratch dir can be removed before returning."""
    import shutil
    import tempfile

    from .similarity import cosine

    path = tempfile.mkdtemp(prefix=prefix)
    try:
        write_fn(path)
        qe = F.array(*[F.lit(float(v)) for v in q_vec])
        out = (
            spark.read.parquet(path)
            .where(F.col("cell").isin(probe))
            .select("vec_id", cosine(F.col("embedding"), qe).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(10)
        )
        rows = [(r["vec_id"], r["cos_sim"]) for r in out.collect()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(spark, rows, "vec_id long, cos_sim double")


@query("sim_ivf_store_probe", sql=_ivf_topk_sql(), tags=("similarity", "topk", "ivf", "storage"))
def sim_ivf_store_probe(spark, sf_dir, nprobe: int = 3):
    """The STORAGE half of the IVF story under the driver hash:
    `sim_ivf_topk` proves the algorithm with an in-plan cell filter;
    this query writes the corpus through `io/ivf_store.py` as
    cell-partitioned parquet (cell = coarse-quantizer id, here the
    fixture label like its in-plan sibling), then answers the SAME
    probe from the store — so the partitioned write, the `cell=<id>`
    directory layout, and the partition-pruned read-back all sit under
    the oracle's closed form (identical SQL to `sim_ivf_topk`: the
    store is an execution strategy, not a semantics change — the same
    contract the bucketed/unbucketed interval join pins).

    Scale shape: a probe scans only the nprobe probed directories —
    the other (k − nprobe)/k of a 100 TB corpus is never listed or
    opened (PartitionFilters plan-asserted in tests/test_ivf_store.py);
    bytes-touched scales with nprobe, not corpus size. The write is one
    scan + one partitioned shuffle-free sink; the centroid sidecar is
    k×dim index metadata.
    """
    emb = T(spark, sf_dir, "embeddings")
    probe, q_vec = _label_centroid_probe(emb, nprobe)

    def write(path):
        emb.withColumn("cell", F.col("label")).write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(path)

    return _probe_cell_store(spark, write, probe, q_vec, "ivf_store_")


_QUANT_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings
),
m AS (
  SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS max_abs FROM base
),
q AS (
  SELECT vec_id, e, max_abs,
         list_transform(e, v -> CASE WHEN max_abs = 0 THEN 0
                                     ELSE CAST(trunc(v * 127.0 / max_abs) AS BIGINT) END) AS qv
  FROM m
)
SELECT vec_id,
       max_abs / 127.0 AS scale,
       CAST(list_reduce(list_transform(qv, x -> abs(x)), (a, b) -> a + b) AS BIGINT) AS q_l1,
       list_reduce(
         list_transform(range(1, 65),
           i -> (e[CAST(i AS INT)] - CAST(qv[CAST(i AS INT)] AS DOUBLE) * max_abs / 127.0)
              * (e[CAST(i AS INT)] - CAST(qv[CAST(i AS INT)] AS DOUBLE) * max_abs / 127.0)),
         (acc, x) -> acc + x) / 64 AS mse
FROM q
"""


@query("emb_quantize_int8", sql=_QUANT_SQL, tags=("similarity", "embedding", "quantization"))
def emb_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding column —
    the compression step a training pipeline runs before shipping
    embeddings to ANN index build or dataloader shards (4× smaller than
    float32, 16× than float64).

    Per row: scale = max|v|/127, q_i = trunc(v_i·127/max|v|) ∈ [-127,127].
    Truncation-toward-zero is used instead of rounding because Spark
    (ANSI cast) and DuckDB (trunc) agree on it bit-for-bit, while their
    round() half-way modes differ. The reported mse is the dequantization
    error under the same left-fold order both engines execute, so the
    whole result is hash-stable. Everything is a shuffle-free chain of
    per-row projections (higher-order array exprs run interpreted but
    JVM-side — no Python, no exchange); at 100 TB this runs at scan
    speed and writes the (qv, scale) pair as the stored representation.
    """
    return quantize_int8(T(spark, sf_dir, "embeddings"))


def quantize_int8(emb):
    """The quantization expression chain over any (vec_id, embedding)
    frame — shared by the registered query and the property tests."""
    d = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    ).select(
        "vec_id",
        "e",
        F.array_max(F.transform("e", F.abs)).alias("max_abs"),
    )
    qv = F.transform(
        "e",
        lambda v: F.when(F.col("max_abs") == 0, F.lit(0).cast("long")).otherwise(
            (v * F.lit(127.0) / F.col("max_abs")).cast("long")
        ),
    )
    d = d.select("vec_id", "e", "max_abs", qv.alias("qv"))
    recon_err_sq = F.zip_with(
        "e",
        "qv",
        lambda v, qq: (v - qq.cast("double") * F.col("max_abs") / F.lit(127.0))
        * (v - qq.cast("double") * F.col("max_abs") / F.lit(127.0)),
    )
    return d.select(
        "vec_id",
        (F.col("max_abs") / F.lit(127.0)).alias("scale"),
        F.aggregate(
            F.transform("qv", F.abs), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("q_l1"),
        (
            F.aggregate(recon_err_sq, F.lit(0.0), lambda a, b: a + b) / F.lit(64)
        ).alias("mse"),
    )


def assign_cells(emb, centroids):
    """(vec_id, embedding) → (vec_id, embedding, cell): nearest-centroid
    assignment as ONE Arrow-batched numpy kernel.

    All k squared distances come from a single matmul per batch
    (‖x−c‖² = −2·x·cᵀ + ‖c‖² up to the row-constant ‖x‖²), with argmin
    ties broken toward the lowest cell id. The earlier pure-column
    formulation (k interpreted fold-distances per row) was ~50× slower
    at sf0.1 — the same toy-scale lesson as the SRP kernel fusion: k×dim
    interpreted higher-order lambdas per row dominate everything. This
    is the documented Arrow-kernel exception, identical in shape to
    sim_topk_pandas_vectorized.
    """
    import numpy as np
    import pandas as pd

    c_mat = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norm = (c_mat * c_mat).sum(axis=1)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = -2.0 * (x @ c_mat.T) + c_norm[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cell": d2.argmin(axis=1).astype("int32"),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, embedding array<float>, cell int"
    )


def fit_sample(emb, fit_fraction: float):
    """Deterministic bounded sample for codebook training: keep
    ``vec_id % round(1/fit_fraction) == 0``. A modulus on the id (not
    ``DataFrame.sample``) so the fit set is identical across runs,
    partitionings, AND engines — the property every oracle-checked fit
    below rests on. At 100 TB with non-uniform ids, swap the modulus
    for ``xxhash64(vec_id) % mod`` (same shape, engine-local)."""
    if fit_fraction >= 1.0:
        return emb
    mod = max(1, int(round(1.0 / fit_fraction)))
    return emb.where(F.col("vec_id") % mod == 0)


def lloyd_fit(emb, k: int = 8, iters: int = 3, fit_fraction: float = 0.25):
    """Distributed k-means fit of the IVF coarse quantizer.

    Trains on a deterministic ``fit_fraction`` sample (`fit_sample`):
    k-means needs distributional coverage, not the full corpus, so at
    100 TB the fit cost is a bounded fraction of one scan no matter how
    large the corpus grows. Deterministic init (the k lowest vec_ids of
    the sample), then ``iters`` Lloyd rounds: one FUSED Arrow kernel
    pass per round assigns cells and accumulates per-(cell, i)
    scaled-integer partial sums numpy-side (`_lloyd_fit_partials`, the
    `_pq_fit_partials` shape), so the shuffle volume is k×dim partial
    rows per batch — independent of corpus size — and the embedding
    arrays never cross the Arrow boundary back. Only the k×dim
    centroid matrix ever
    reaches the driver (it IS the index metadata). Empty cells keep
    their previous centroid. Returns a numpy (k, dim) array.

    The update is an exact scaled-integer mean (the `pq_fit` trick):
    sum(round(x·1e7)) is an exact int64 fold, so the centroids — and
    every downstream assignment, probe choice, and recall number — are
    bit-identical across runs, partitionings, and engines (|x| ≤ ~1 ⇒
    exact for any corpus < ~1e12 rows). This is what makes
    `sim_ivf_kmeans_topk` DuckDB-oracle-checkable.
    """
    import numpy as np

    from pyspark import StorageLevel

    # the fit frame is scanned iters+1 times (init + one fused
    # assign/update pass per round); persist it so the parquet scan +
    # sampling filter run once, not per round (same contract as
    # `pq_fit`'s persist: MEMORY_AND_DISK, results exact either way).
    cached = fit_sample(emb, fit_fraction).persist(StorageLevel.MEMORY_AND_DISK)
    # materialize the cache and size the round jobs from the measured
    # sample count (`_fit_width`): every subsequent job — init and one
    # fused pass per round — runs over the cached sample at a width
    # where kernel compute dominates task launch.
    fit, width = _fit_width(cached)
    init = fit.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    centroids = np.array(
        [r["embedding"] for r in sorted(init, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    centroids = _lloyd_rounds(fit, width, centroids, iters)
    cached.unpersist()
    return centroids


def _lloyd_rounds(fit, width, centroids, iters: int):
    """``iters`` fused Lloyd rounds over an already-persisted,
    width-coalesced fit frame: one Arrow kernel per round assigns
    cells AND accumulates per-(cell, i) scaled-integer sums across the
    WHOLE task (one ≤ k·dim emission per task, not per batch — guide
    §2.3 "aggregate before you shuffle"). Determinism: exact int64
    sums of round-half-away(x·1e7), one IEEE division at the end —
    bit-identical across runs, partitionings, and the DuckDB oracle.
    The combine is fan-in adaptive (`_fit_combine`): int64 sums are
    order-free, so the strategy can never change the centroids.
    Mutates and returns the float64 (k, dim) centroid matrix."""
    import numpy as np

    k, dim = centroids.shape
    combine = _fit_combine(width, ("cell", "i"))
    for _ in range(iters):
        rows = combine(_lloyd_fit_partials(fit, centroids))
        sums = np.zeros((k, dim), dtype=np.int64)
        cnts = np.zeros((k, dim), dtype=np.int64)
        for r in rows:
            sums[r["cell"], r["i"]] += r["tot"]
            cnts[r["cell"], r["i"]] += r["cnt"]
        nz = cnts > 0
        centroids[nz] = sums[nz] / (cnts[nz] * 1e7)
    return centroids


# Max per-round reduce fan-in the driver sums itself: below this many
# upstream tasks, skip the groupBy shuffle stage and collect the
# (already task-accumulated, ≤ groups·dim rows each) partials directly
# — one stage per Lloyd round instead of two (measured 2.3 → 1.85 s per
# lloyd_fit at sf0.1; same win in pq_fit). Above it, pre-reduce with
# groupBy so the driver never receives more than ~fan-in·k·dim tiny
# rows — the treeAggregate depth heuristic, expressed over DataFrames.
# Partial sums are exact int64 (order-free), so both strategies are
# bit-identical; the cutoff only picks the cheaper plan.
_FIT_COMBINE_FANIN = 256

#: Rows per task for the iterative fit kernels: embedding rows are
#: ~512 B (64 float64) so 256k rows is a ~128 MB Arrow task — large
#: enough that the einsum/matmul dominates task launch, small enough
#: to stream through the kernel's batch loop (guide §2.2 / §4.2).
_FIT_ROWS_PER_TASK = 262_144


def _fit_width(fit):
    """Materialize the persisted fit sample and derive the round-job
    width from its MEASURED row count (guide §2: scale-adaptive, never
    a constant tuned for local mode): the count job doubles as the
    cache materialization the first round would otherwise pay, and the
    derived width replaces the `.rdd.getNumPartitions()` plan probe
    (~0.2 s of physical planning per fit). Returns (coalesced fit
    frame, width). Coalesce is narrow — it re-reads cached partitions,
    never shuffles — and per-task int64 accumulation is order-free, so
    width is layout-only."""
    n = fit.count()
    sc = fit.sparkSession.sparkContext
    p = max(1, min(int(n) // _FIT_ROWS_PER_TASK + 1, sc.defaultParallelism * 8))
    # coalesce never raises a partition count, so this is a no-op when
    # the scan is already narrower than p — no plan probe needed.
    return fit.coalesce(p), p


def _fit_combine(p, keys):
    """Return a combine(partials_df) → rows callable for an iterative
    fit round: driver-side summation of per-task partials when the fit
    frame's task count ``p`` is bounded, a pre-reducing groupBy
    otherwise."""
    if p <= _FIT_COMBINE_FANIN:
        return lambda partials: partials.collect()
    aggs = [F.sum("tot").alias("tot"), F.sum("cnt").alias("cnt")]
    return lambda partials: partials.groupBy(*keys).agg(*aggs).collect()


def _lloyd_fit_partials(emb, centroids):
    """One Lloyd round's map side, fused: per Arrow batch, assign every
    vector to its nearest centroid (same matmul argmin as
    `assign_cells`) and accumulate per-(cell, i) partial sums of
    round-half-away(x·1e7) as int64 plus member counts — ACROSS the
    whole task, emitting once at end of iterator, so output is bounded
    by k·dim rows per TASK regardless of row count (int64 sums are
    order-free, so in-task accumulation is exact)."""
    import numpy as np
    import pandas as pd

    c_mat = np.ascontiguousarray(centroids, dtype=np.float64)
    k, dim = c_mat.shape
    c_norm = (c_mat * c_mat).sum(axis=1)

    def run(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = -2.0 * (x @ c_mat.T) + c_norm[None, :]
            cells = d2.argmin(axis=1)  # ties → lowest cell id
            scaled = x * 1e7
            xi = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
                np.int64
            )  # round half away from zero == Spark/DuckDB round()
            np.add.at(sums, cells, xi)
            np.add.at(cnts, cells, 1)
        (c_idx,) = np.nonzero(cnts)
        if len(c_idx) > 0:
            yield pd.DataFrame(
                {
                    "cell": np.repeat(c_idx, dim).astype("int32"),
                    "i": np.tile(np.arange(dim, dtype="int32"), len(c_idx)),
                    "tot": sums[c_idx].reshape(-1),
                    "cnt": np.repeat(cnts[c_idx], dim),
                }
            )

    return emb.select("embedding").mapInPandas(
        run, schema="cell int, i int, tot long, cnt long"
    )


def _sqdist_sql(a: str, b: str, dim: int = _DIM) -> str:
    # left-fold squared distance over two DOUBLE[] lists, index order —
    # the same fold the Python probe-selection loop runs
    t = f"({a}[CAST(i AS INT)] - {b}[CAST(i AS INT)])"
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> {t} * {t}), "
        f"(acc, v) -> acc + v)"
    )


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]), (acc, v) -> acc + v)"
    )


def _kmeans_fit_parts(k: int = 8, iters: int = 3, mod: int = 4,
                      dim: int = _DIM, k_sql: str | None = None) -> list[str]:
    """Unrolled k-means replica of `lloyd_fit` as DuckDB CTE parts
    (`x` = double-cast corpus, `c{iters}` = final centroids) — shared
    by every oracle that replays the learned coarse quantizer
    (`sim_ivf_kmeans_topk`, `sim_silhouette_kmeans`,
    `dedup_semantic_prune_autok`). Assignment = argmin over full
    squared distance with (dist, cell) tie-break — the Spark side's
    numpy kernel computes the same argmin up to a row-constant (‖x‖²),
    so the decisions agree; centroid updates are the identical exact
    scaled-integer mean.

    ``k_sql``, when given, replaces the literal ``k`` with a SQL
    expression evaluated against the corpus (DuckDB allows a subquery
    in LIMIT) — how the auto-k oracle stays a SINGLE static string
    valid at every scale factor: only the init LIMIT depends on k; the
    Lloyd-round CTEs are k-generic.
    """
    dist_ec = _sqdist_sql("e", "c")
    k_lim = f"({k_sql})" if k_sql is not None else str(k)
    parts = [
        f"""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    fit AS (SELECT * FROM x WHERE vec_id % {mod} = 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, e AS c
      FROM (SELECT vec_id, e FROM fit ORDER BY vec_id LIMIT {k_lim})
    )"""
    ]
    for r in range(1, iters + 1):
        parts.append(f"""
    a{r} AS (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM fit, c{r - 1}
      GROUP BY vec_id, e
    ),
    u{r} AS (
      SELECT cell, i,
             CAST(sum(CAST(round(e[CAST(i AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS m
      FROM a{r}, range(1, {dim + 1}) t(i)
      GROUP BY cell, i
    ),
    cu{r} AS (SELECT cell, list(m ORDER BY i) AS c FROM u{r} GROUP BY cell),
    c{r} AS (
      SELECT p.cell, coalesce(n.c, p.c) AS c
      FROM c{r - 1} p LEFT JOIN cu{r} n USING (cell)
    )""")
    return parts


def _ivf_kmeans_sql(k: int = 8, iters: int = 3, mod: int = 4, nprobe: int = 3,
                    dim: int = _DIM, k_sql: str | None = None,
                    nprobe_sql: str | None = None) -> str:
    """k-means fit replay (`_kmeans_fit_parts`) + IVF probe + probed-cell
    rescore as one DuckDB CTE chain. ``k_sql``/``nprobe_sql`` swap the
    literal sizes for corpus-derived LIMIT subqueries (the auto-k
    variant's single static oracle)."""
    dist_ec = _sqdist_sql("e", "c")
    np_lim = f"({nprobe_sql})" if nprobe_sql is not None else str(nprobe)
    parts = _kmeans_fit_parts(k, iters, mod, dim, k_sql=k_sql)
    parts.append(f"""
    q AS (SELECT e AS qe FROM x WHERE vec_id = 0),
    probe AS (
      SELECT cell FROM (SELECT cell, {_sqdist_sql("qe", "c")} AS d FROM c{iters}, q)
      ORDER BY d, cell LIMIT {np_lim}
    ),
    af AS (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM x, c{iters}
      GROUP BY vec_id, e
    )
    SELECT af.vec_id,
           ({_dot_sql("e", "qe")})
             / (sqrt({_dot_sql("e", "e")}) * sqrt({_dot_sql("qe", "qe")})) AS cos_sim
    FROM af, q
    WHERE cell IN (SELECT cell FROM probe)
    ORDER BY cos_sim DESC, af.vec_id
    LIMIT 10""")
    return ",".join(parts)


@query("sim_ivf_kmeans_topk", sql=_ivf_kmeans_sql(), tags=("similarity", "topk", "ivf", "kmeans"))
def sim_ivf_kmeans_topk(spark, sf_dir, k: int = 8, nprobe: int = 3):
    """IVF top-k with a LEARNED coarse quantizer (k-means via lloyd_fit)
    instead of sim_ivf_topk's fixture labels — the shape a real ANN
    index build takes when no pre-existing partition key exists.

    At 100 TB: fit on a sample (lloyd_fit's default 25% here; far
    smaller in production), write vectors bucketed by cell id, and a
    probe becomes a partition-pruned scan of nprobe buckets. Here the
    probe is a filter over the assigned cells; scoring within probed
    cells is the exact deterministic left-fold cosine, so results are a
    subsequence of the exhaustive ranking (pinned by test).

    Oracle-checked end to end: the deterministic sample + init +
    scaled-integer means make the centroids bit-reproducible, so the
    DuckDB oracle replays the whole fit (3 unrolled Lloyd rounds), the
    probe choice, and the probed-cell rescore. Assignment argmins are
    computed by different kernels (numpy matmul vs SQL fold) whose
    distances agree to ~1e-12 relative — a flip would need two
    centroids equidistant to a vector at that precision.
    """
    import numpy as np

    from .similarity import cosine

    emb = par(T(spark, sf_dir, "embeddings"))
    centroids = lloyd_fit(emb, k=k, iters=3)

    q_vec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    # probe choice mirrors the oracle exactly: left-fold distances in
    # index order, (dist, cell) sort — no numpy reductions here
    dq = []
    for cell in range(len(centroids)):
        d = 0.0
        for qi, ci in zip(q_vec, centroids[cell]):
            t = float(qi) - float(ci)
            d += t * t
        dq.append((d, cell))
    probe = [cell for _, cell in sorted(dq)[:nprobe]]

    qe = F.array(*[F.lit(float(v)) for v in q_vec])
    return (
        assign_cells(emb, centroids)
        .where(F.col("cell").isin(probe))
        .select("vec_id", cosine(F.col("embedding"), qe).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _silhouette_sql(k: int = 8, iters: int = 3, mod: int = 4,
                    dim: int = _DIM) -> str:
    """Fit replay (`_kmeans_fit_parts`) + per-point sorted centroid
    distances + nano-quantized per-cell mean silhouette."""
    dist_ec = _sqdist_sql("e", "c")
    parts = _kmeans_fit_parts(k, iters, mod, dim)
    parts.append(f"""
    af AS (
      SELECT vec_id,
             list_sort(list(struct_pack(d := {dist_ec}, cell := cell))) AS ds
      FROM x, c{iters}
      GROUP BY vec_id
    ),
    sv AS (
      SELECT vec_id, ds[1].cell AS cell, ds[1].d AS a2, ds[2].d AS b2 FROM af
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CAST(round((CASE WHEN greatest(a2, b2) <= 0 THEN 0.0
                 ELSE (b2 - a2) / greatest(a2, b2) END) * 1e9) AS BIGINT))
             AS BIGINT) / (count(*) * 1e9) AS mean_silhouette
    FROM sv GROUP BY cell""")
    return ",".join(parts)


@query(
    "sim_silhouette_kmeans",
    sql=_silhouette_sql(),
    tags=("similarity", "clustering", "evaluation", "kmeans"),
)
def sim_silhouette_kmeans(spark, sf_dir, k: int = 8):
    """Simplified (centroid-based) silhouette score of the learned
    k-means partition — the index-quality gate an ANN build runs before
    trusting its cells: per point, a = squared distance to its own
    centroid, b = squared distance to the nearest OTHER centroid,
    s = (b−a)/max(a,b) ∈ [0,1] here (a is the argmin so a ≤ b); mean s
    per cell. Near-zero cells mean boundary-heavy assignments → raise k
    or re-fit. Completes the evaluation trio: modularity scores the LPA
    partition, DBSCAN carries its own density contract, this scores the
    quantizer. Medoid-free simplified silhouette is O(n·k), not the
    classic O(n²) — the only formulation that survives 100 TB.

    Exactness: centroids are bit-reproducible across engines (exact
    scaled-integer Lloyd means, see `lloyd_fit`), per-point distances
    are the SAME index-order left fold both engines (`F.aggregate` over
    `zip_with` ↔ `list_reduce` over `list_transform`), the (d, cell)
    struct sort pins ties, and the corpus-sized mean folds through
    round(s·1e9) int64 — order-free. Scale shape: one corpus×k narrow
    crossJoin against the broadcast k×dim centroid frame (k is a
    constant), one vec_id rollup, one cell rollup; no numpy on the
    scoring path so every s is bit-identical cross-engine.
    """
    emb = par(T(spark, sf_dir, "embeddings"))
    centroids = lloyd_fit(emb, k=k, iters=3)

    cents = local_frame(
        spark, [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cell int, c array<double>",
    )
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    ds = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", F.struct(d2.alias("d"), "cell").alias("dc"))
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list("dc")).alias("ds"))
        .select(
            F.col("ds")[0]["cell"].alias("cell"),
            F.col("ds")[0]["d"].alias("a2"),
            F.col("ds")[1]["d"].alias("b2"),
        )
    )
    s = F.when(F.greatest("a2", "b2") <= 0, F.lit(0.0)).otherwise(
        (F.col("b2") - F.col("a2")) / F.greatest("a2", "b2")
    )
    return ds.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_points"),
        (
            F.sum(F.round(s * 1e9).cast("long")).cast("long")
            / (F.count("*") * F.lit(1e9))
        ).alias("mean_silhouette"),
    )


@query(
    "agg_salted_value_counts",
    sql="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("aggregate", "skew"),
)
def agg_salted_value_counts(spark, sf_dir):
    """Two-stage salted aggregation, oracle-proven equal to the plain
    groupBy: stage 1 counts per (key, salt) — hot keys spread over 16
    reducers — stage 2 sums the partials per key. The explicit fallback
    for key skew AQE can't fix (a single hot VALUE inside one task);
    sum-of-counts re-aggregation is exact, so the salted path is
    drop-in for any count/sum shape.
    """
    from ..skew import salted_count

    ev = T(spark, sf_dir, "events").select("event_type")
    return salted_count(ev, ["event_type"]).select(
        "event_type", F.col("count").alias("cnt")
    )


@query(
    "join_salted_hotkey",
    sql="""
    SELECT o.o_orderstatus,
           (CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0) AS revenue,
           CAST(count(*) AS BIGINT) AS line_cnt
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "skew"),
)
def join_salted_hotkey(spark, sf_dir):
    """Salted equi-join, oracle-proven identical to the plain join: the
    fact side (lineitem) gets a deterministic row-unique salt, the
    filtered orders side is replicated once per salt, and the join key
    becomes (orderkey, salt) — no single reducer ever owns all rows of a
    hot key. This is the fallback for the skew case AQE's split can't
    fix (one hot key inside a single *build*-side partition) when the
    dim is replicable but too large for a clean broadcast.

    The oracle is the PLAIN join SQL: salting must be a pure physical
    rewrite with zero semantic footprint — that equality is the test.
    Cost model: replication multiplies the small side by n_salts (16),
    so it's worth it only while |dim|·16 ≪ |fact-side hot key traffic|.
    """
    from ..skew import salted_broadcast_join

    fact = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"), "l_extendedprice", "l_discount"
    )
    dim = (
        T(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    )
    rev = F.sum(fxp("l_extendedprice") * (100 - fxp("l_discount"))) / 10000.0
    return (
        salted_broadcast_join(fact, dim, "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(rev.alias("revenue"), F.count("*").alias("line_cnt"))
    )


@query(
    "sim_label_centroids_quantized",
    sql=f"""
    WITH ex AS (
      SELECT label, t.i AS dim,
             CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, range(1, {_DIM + 1}) t(i)
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(sum(q) AS BIGINT) / (count(*) * 1000000.0) AS centroid
    FROM ex GROUP BY label, dim
    """,
    tags=("similarity", "centroid", "scale-path"),
)
def sim_label_centroids_quantized(spark, sf_dir):
    """The 100 TB centroid: fixed-point quantized mean — each component
    floors to a 1e-6 grid (floor, not round: floor has no tie mode, so
    engines can't disagree), int64 sums are exact and order-insensitive,
    and the mean is one correctly-rounded division. Replaces
    sim_label_centroids' sorted-fold (collect_list per group: unbounded
    per-group memory) with a plain partial+final aggregate — bounded
    state, shuffle volume |labels|·dim. Quantization error ≤ 1e-6 per
    component (pinned against the exact fold in tests).

    Overflow: |q| ≤ ~2²¹ for unit-scale float32 components, so int64
    carries ~2⁴² rows per (label, dim) — beyond any corpus here.
    """
    emb = T(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("i", "xf")).select(
        "label",
        (F.col("i") + 1).alias("dim"),
        F.floor(F.col("xf").cast("double") * 1000000).alias("q"),
    )
    return ex.groupBy("label", "dim").agg(
        (F.sum("q") / (F.count("q") * 1000000.0)).alias("centroid")
    )


@query(
    "text_fuzzy_join_qgram",
    sql="""
    WITH s AS (SELECT DISTINCT source FROM documents)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(levenshtein(a.source, b.source) AS INTEGER) AS dist
    FROM s a JOIN s b ON a.source < b.source
    WHERE levenshtein(a.source, b.source) <= 1
    """,
    tags=("text", "similarity", "scale-path"),
)
def text_fuzzy_join_qgram(spark, sf_dir):
    """Bounded-candidate fuzzy string join — the scale sibling of
    text_levenshtein_pairs' all-pairs baseline. Candidates must (a)
    share at least one 2-gram and (b) differ in length by ≤ 1; only
    survivors pay the quadratic edit distance.

    Recall contract: one edit destroys at most 2 of a string's n−1
    2-grams, so any dist ≤ 1 pair with n ≥ 4 still shares a 2-gram —
    full recall on the fixture domain (all source names ≥ 4 chars).
    The ORACLE is the *unfiltered* all-pairs SQL: the prefilter must be
    semantically invisible, and that equality is what the driver checks.
    At 100 TB the 2-gram index gets the same document-frequency cap as
    the Jaccard join (drop ubiquitous grams; recall is preserved when
    the matching-gram count bound still holds).
    """
    s = T(spark, sf_dir, "documents").select("source").distinct()
    grams = F.transform(
        F.sequence(F.lit(1), F.length("source") - 1),
        lambda i: F.col("source").substr(i, F.lit(2)),
    )
    g = s.select("source", F.explode(grams).alias("gram")).distinct()
    ga = g.select(F.col("source").alias("src_a"), "gram")
    gb = g.select(F.col("source").alias("src_b"), "gram")
    cand = (
        ga.join(gb, "gram")
        .where(
            (F.col("src_a") < F.col("src_b"))
            & (
                F.abs(F.length("src_a") - F.length("src_b")) <= 1
            )
        )
        .select("src_a", "src_b")
        .distinct()
    )
    dist = F.levenshtein("src_a", "src_b")
    return cand.select("src_a", "src_b", dist.alias("dist")).where(F.col("dist") <= 1)


_INT8_TOPK_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings
),
m AS (
  SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS max_abs FROM base
),
q AS (
  SELECT vec_id, e, max_abs,
         list_transform(e, v -> CASE WHEN max_abs = 0 THEN 0
                                     ELSE CAST(trunc(v * 127.0 / max_abs) AS BIGINT) END) AS qv
  FROM m
),
qq AS (SELECT e AS qe, max_abs AS q_max, qv AS qqv FROM q WHERE vec_id = 0),
scored AS (
  SELECT q.vec_id,
         CAST(list_reduce(
           list_transform(range(1, 65),
             i -> qv[CAST(i AS INT)] * qqv[CAST(i AS INT)]),
           (a, b) -> a + b) AS BIGINT) AS q_dot,
         ((CAST(list_reduce(
             list_transform(range(1, 65),
               i -> qv[CAST(i AS INT)] * qqv[CAST(i AS INT)]),
             (a, b) -> a + b) AS DOUBLE)
            * (max_abs / 127.0) * (q_max / 127.0))
           / (sqrt(list_reduce(list_transform(range(1, 65),
                i -> e[CAST(i AS INT)] * e[CAST(i AS INT)]), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(range(1, 65),
                i -> qe[CAST(i AS INT)] * qe[CAST(i AS INT)]), (a, b) -> a + b)))
         ) AS approx_cos
  FROM q, qq
)
SELECT vec_id, q_dot, approx_cos
FROM scored ORDER BY approx_cos DESC, vec_id LIMIT 10
"""


@query(
    "sim_topk_int8",
    sql=_INT8_TOPK_SQL,
    tags=("similarity", "topk", "quantization"),
)
def sim_topk_int8(spark, sf_dir):
    """Top-k retrieval in int8-quantized space — the search that runs
    AGAINST the compressed representation `emb_quantize_int8` stores:
    the candidate score is an exact int64 dot of two int8 code vectors,
    dequantized by the two per-vector scales. This is the memory-bound
    regime ANN serving actually runs in (4× less bandwidth than float32,
    SIMD int8 dots on real hardware); tests pin its top-10 against the
    float brute-force oracle (9/10 recall on the fixture).

    Determinism: the integer dot is order-insensitive (exact int64); the
    dequantization is three per-row IEEE multiplies and one divide in a
    parenthesization the oracle mirrors exactly, and the norms are the
    same left-fold the cosine oracle uses — hash-stable end to end.
    Scale shape: one scan, broadcast 1-row query, TakeOrderedAndProject
    — no shuffle of the corpus, and at 100 TB the same score works
    bucket-locally under the SRP/IVF partitioners.
    """
    from .similarity import fold_dot

    emb = T(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    ).select(
        "vec_id", "e", F.array_max(F.transform("e", F.abs)).alias("max_abs")
    )
    qv = F.transform(
        "e",
        lambda v: F.when(F.col("max_abs") == 0, F.lit(0).cast("long")).otherwise(
            (v * F.lit(127.0) / F.col("max_abs")).cast("long")
        ),
    )
    d = d.select("vec_id", "e", "max_abs", qv.alias("qv"))
    qrow = (
        d.where(F.col("vec_id") == 0)
        .select(
            F.col("e").alias("qe"),
            F.col("max_abs").alias("q_max"),
            F.col("qv").alias("qqv"),
        )
    )
    scored = d.crossJoin(F.broadcast(qrow))
    q_dot = F.aggregate(
        F.zip_with("qv", "qqv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    ).cast("long")
    approx_cos = (
        q_dot.cast("double") * (F.col("max_abs") / 127.0) * (F.col("q_max") / 127.0)
    ) / (
        F.sqrt(fold_dot(F.col("e"), F.col("e")))
        * F.sqrt(fold_dot(F.col("qe"), F.col("qe")))
    )
    return (
        scored.select(
            "vec_id", q_dot.alias("q_dot"), approx_cos.alias("approx_cos")
        )
        .orderBy(F.desc("approx_cos"), "vec_id")
        .limit(10)
    )


def pq_fit(emb, m: int = 8, ksub: int = 16, iters: int = 3,
           fit_fraction: float = 0.25):
    """Product-quantization codebook fit: split the 64-dim space into
    ``m`` 8-dim subspaces and k-means each with ``ksub`` centroids — all
    subspaces trained together: assignment is one Arrow kernel pass per
    round (an einsum over (batch, m, dsub) × (m, ksub, dsub)), and the
    update aggregation shuffles m·ksub·dsub ≈ 1k rows regardless of
    corpus size (same scale shape as `lloyd_fit`). Trains on a
    deterministic ``fit_fraction`` sample (`fit_sample`) — standard PQ
    practice: the codebooks need distributional coverage, not the full
    corpus, so at 100 TB the fit is a bounded fraction of one scan.
    Deterministic init: subvectors of the first ``ksub`` vectors of the
    sample by vec_id. Returns a numpy (m, ksub, dsub) array — the
    entire index metadata.
    """
    import numpy as np

    from pyspark import StorageLevel

    # the fit frame is scanned iters+1 times (init + one assign/update
    # pass per round); persist it so the parquet scan + normalization
    # run once, not per round. MEMORY_AND_DISK: at 100 TB the
    # fit_fraction sample is still large, so spill — never recompute —
    # is the overflow path. Results are exact integers either way;
    # caching affects cost only.
    cached = fit_sample(emb, fit_fraction).persist(StorageLevel.MEMORY_AND_DISK)
    # materialize + measure + width-size the round jobs (`_fit_width`,
    # the lloyd_fit note).
    emb, width = _fit_width(cached)
    dsub = _DIM // m
    # deterministic init: the ksub lowest vec_ids of the (possibly
    # sampled) fit frame — a top-k, not a scan-order head.
    init = emb.select("vec_id", "embedding").orderBy("vec_id").limit(ksub).collect()
    first = np.array(
        [r["embedding"] for r in sorted(init, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    books = first.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
    books = _pq_rounds(emb, width, books, iters)
    cached.unpersist()
    return books


def _pq_rounds(emb, width, books, iters: int):
    """``iters`` fused PQ k-means rounds over an already-persisted,
    width-coalesced fit frame (r7: the pre-fusion path re-encoded,
    posexploded codes×embedding to m·dim rows/vector and filtered
    15/16ths away before the shuffle): one Arrow kernel per iteration
    assigns codes AND accumulates per-(s, code, j) scaled-integer sums
    numpy-side — ≤ m·ksub·dsub partial rows per task, index metadata
    instead of O(sample · m · dim) data rows.

    Determinism contract: exact scaled-int64 sums (1e7 keeps 7
    decimals of a unit-vector component; |x|≤1 ⇒ exact for any corpus
    < 9e11 rows), integer merge order-free, one IEEE division at the
    end — codebooks bit-identical across runs, partitionings, AND the
    DuckDB oracle replay (round = half away from zero in both engines,
    sign·floor(|v|+0.5), NOT np.rint's half-even). The combine is
    fan-in adaptive (`_fit_combine`): one stage per round when the
    task count is bounded, groupBy pre-reduce otherwise. Mutates and
    returns the float64 (m, ksub, dsub) codebook array."""
    import numpy as np

    m, ksub, dsub = books.shape
    combine = _fit_combine(width, ("s", "code", "j"))
    for _ in range(iters):
        rows = combine(_pq_fit_partials(emb, books))
        sums = np.zeros((m, ksub, dsub), dtype=np.int64)
        cnts = np.zeros((m, ksub, dsub), dtype=np.int64)
        for r in rows:
            sums[r["s"], r["code"], r["j"]] += r["tot"]
            cnts[r["s"], r["code"], r["j"]] += r["cnt"]
        nz = cnts > 0
        books[nz] = sums[nz] / (cnts[nz] * 1e7)
    return books


def fit_ivfpq(emb, k: int, m: int, ksub: int, iters: int = 3,
              fit_fraction: float = 0.25):
    """Coarse quantizer AND residual PQ codebooks from ONE persisted
    fit sample (r14; guide §2.3/§5): the r13 chain ran `lloyd_fit` and
    `pq_fit` back to back — two persists of the same vec_id-modulus
    sample, two count jobs, two init collects, and a FULL-CORPUS
    residual materialization just to keep its 25% fit rows (the
    modulus filter cannot push below the residual kernel). This chain
    persists the sample once, collects the max(k, ksub) lowest-vec_id
    init rows once, trains Lloyd, residual-quantizes ONLY the sample
    (one sample-sized kernel pass, persisted for the PQ rounds),
    computes the PQ init residuals driver-side with the kernel's exact
    numpy op sequence, and trains PQ.

    Bit-identity with the unfused lloyd_fit→residual_frame→pq_fit
    chain (asserted in tests/test_ivf_store.py): the fit sample, both
    inits, and every round's int64 partials are identical by
    construction — residuals are per-row, so sample-of-residuals ==
    residuals-of-sample. Returns (centroids, books)."""
    import numpy as np

    from pyspark import StorageLevel

    cached = fit_sample(emb, fit_fraction).persist(StorageLevel.MEMORY_AND_DISK)
    res_fit = None
    try:
        fit, width = _fit_width(cached)
        init = (
            fit.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(max(k, ksub))
            .collect()
        )
        x0 = np.array(
            [r["embedding"] for r in sorted(init, key=lambda r: r["vec_id"])],
            dtype=np.float64,
        )
        centroids = _lloyd_rounds(fit, width, x0[:k].copy(), iters)
        dim = centroids.shape[1]
        dsub = dim // m
        # PQ init = residuals of the ksub lowest-vec_id sample rows,
        # computed driver-side with the kernel's exact op sequence
        # (float64 matmul argmin, float64 subtract, one float32 cast).
        d2 = (
            -2.0 * (x0[:ksub] @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        )
        cells = d2.argmin(axis=1)
        r0 = (x0[:ksub] - centroids[cells]).astype(np.float32).astype(np.float64)
        books = r0.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()
        res_fit = residual_frame(
            emb.sparkSession, fit, centroids
        ).persist(StorageLevel.MEMORY_AND_DISK)
        books = _pq_rounds(res_fit, width, books, iters)
    finally:
        cached.unpersist()
        if res_fit is not None:
            res_fit.unpersist()
    return centroids, books


def _pq_fit_partials(emb, books):
    """One k-means round's map side, fused: per Arrow batch, assign
    every subvector to its nearest codeword (same einsum as
    `pq_encode`) and accumulate per-(s, code, j) partial sums of
    round-half-away(x·1e7) as int64 plus member counts — ACROSS the
    whole task, emitting once at end of iterator, so output is bounded
    by m·ksub·dsub rows per TASK regardless of row count (int64 sums
    are order-free, so in-task accumulation is exact)."""
    import numpy as np
    import pandas as pd

    b = np.ascontiguousarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = b.shape
    b_norm = (b * b).sum(axis=2)

    def run(batches):
        sums = np.zeros((m, ksub, dsub), dtype=np.int64)
        cnts = np.zeros((m, ksub), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            ).reshape(len(pdf), m, dsub)
            d2 = -2.0 * np.einsum("bsd,skd->bsk", x, b) + b_norm[None, :, :]
            codes = d2.argmin(axis=2)  # (batch, m); ties → lowest code
            scaled = x * 1e7
            xi = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
                np.int64
            )  # round half away from zero == Spark/DuckDB round()
            for s in range(m):
                np.add.at(sums[s], codes[:, s], xi[:, s, :])
                np.add.at(cnts[s], codes[:, s], 1)
        s_idx, c_idx = np.nonzero(cnts)
        if len(s_idx) > 0:
            yield pd.DataFrame(
                {
                    "s": np.repeat(s_idx, dsub).astype("int32"),
                    "code": np.repeat(c_idx, dsub).astype("int32"),
                    "j": np.tile(np.arange(dsub, dtype="int32"), len(s_idx)),
                    "tot": sums[s_idx, c_idx].reshape(-1),
                    "cnt": np.repeat(cnts[s_idx, c_idx], dsub),
                }
            )

    return emb.select("embedding").mapInPandas(
        run, schema="s int, code int, j int, tot long, cnt long"
    )


def pq_encode(emb, books):
    """(..., embedding) → (..., codes array<int>): per subspace, the id
    of the nearest codebook centroid — one Arrow numpy kernel, all
    subspaces per batch, no shuffle. Every input column passes through
    unchanged (so e.g. a `cell` column rides along and the IVF-PQ store
    write needs no corpus-sized re-attach join). The stored form is m
    small ints per vector: 8 bytes instead of 256 for float32×64."""
    import numpy as np
    import pandas as pd

    b = np.ascontiguousarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = b.shape
    b_norm = (b * b).sum(axis=2)  # (m, ksub)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            ).reshape(len(pdf), m, dsub)
            # ‖x_s − c_sk‖² up to row-constant: −2·x_s·c_sk + ‖c_sk‖²
            d2 = -2.0 * np.einsum("bsd,skd->bsk", x, b) + b_norm[None, :, :]
            codes = d2.argmin(axis=2).astype("int32")  # (batch, m)
            out = pdf.copy()
            out["codes"] = list(codes)
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields
    )
    return emb.mapInPandas(run, schema=schema + ", codes array<int>")


def _pq_sql(m: int = 16, ksub: int = 64, iters: int = 3, mod: int = 4,
            dim: int = _DIM, topk: int = 10) -> str:
    """DuckDB replica of sim_topk_pq: normalize → pq_fit (round-unrolled
    k-means per subspace, join-based argmin — no m×ksub literal
    explosion) → encode → ADC scoring via an s-ordered list_reduce fold
    (matching the Spark side's literal-table fold element for element).
    Same determinism contract as `_ivf_kmeans_sql`: exact scaled-integer
    means make the codebooks bit-identical; assignment argmins are
    cross-kernel comparisons only."""
    from .similarity import _fold_dot_sql

    dsub = dim // m
    t = "(dv[CAST(i AS INT)] - bv[CAST(i AS INT)])"
    dist = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), i -> {t} * {t}), "
        f"(a, b) -> a + b)"
    )
    parts = [f"""
    WITH xn AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(CAST(v AS DOUBLE) / norm AS REAL)) AS ne
      FROM (SELECT vec_id, embedding,
                   sqrt({_fold_dot_sql("embedding", "embedding")}) AS norm
            FROM embeddings)
    ),
    sub AS (
      SELECT vec_id, CAST(s AS INT) AS s,
             list_transform(ne[(CAST(s AS INT) * {dsub} + 1):(CAST(s AS INT) * {dsub} + {dsub})],
                            v -> CAST(v AS DOUBLE)) AS dv
      FROM xn, range(0, {m}) t(s)
    ),
    fsub AS (SELECT * FROM sub WHERE vec_id % {mod} = 0),
    finit AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
      FROM (SELECT DISTINCT vec_id FROM fsub ORDER BY vec_id LIMIT {ksub})
    ),
    b0 AS (SELECT s, code, dv AS bv FROM finit JOIN fsub USING (vec_id))"""]
    for r in range(1, iters + 1):
        parts.append(f"""
    a{r} AS (
      SELECT f.vec_id, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM fsub f JOIN b{r - 1} b ON f.s = b.s
      GROUP BY f.vec_id, f.s
    ),
    u{r} AS (
      SELECT a.s, a.code, j,
             CAST(sum(CAST(round(dv[CAST(j AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS mv
      FROM a{r} a JOIN fsub f ON a.vec_id = f.vec_id AND a.s = f.s,
           range(1, {dsub + 1}) t(j)
      GROUP BY a.s, a.code, j
    ),
    bu{r} AS (SELECT s, code, list(mv ORDER BY j) AS bv FROM u{r} GROUP BY s, code),
    b{r} AS (
      SELECT p.s, p.code, coalesce(n.bv, p.bv) AS bv
      FROM b{r - 1} p LEFT JOIN bu{r} n USING (s, code)
    )""")
    parts.append(f"""
    qn AS (
      SELECT list_transform(ne, v -> CAST(v AS DOUBLE)
               / sqrt({_fold_dot_sql("ne", "ne")})) AS qv
      FROM xn WHERE vec_id = 0
    ),
    tabt AS (
      SELECT b.s, b.code,
             list_reduce(list_transform(range(1, {dsub + 1}),
               i -> qv[CAST(b.s * {dsub} + i AS INT)] * bv[CAST(i AS INT)]),
               (a, b) -> a + b) AS val
      FROM b{iters} b, qn
    ),
    ae AS (
      SELECT f.vec_id, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM sub f JOIN b{iters} b ON f.s = b.s
      GROUP BY f.vec_id, f.s
    )
    SELECT vec_id,
           list_reduce(list(val ORDER BY s), (a, b) -> a + b) AS approx_dot
    FROM ae JOIN tabt USING (s, code)
    GROUP BY vec_id
    ORDER BY approx_dot DESC, vec_id
    LIMIT {topk}""")
    return ",".join(parts)


@query("sim_topk_pq", sql=_pq_sql(), tags=("similarity", "topk", "quantization", "pq"))
def sim_topk_pq(spark, sf_dir, m: int = 16, ksub: int = 64):
    """Top-k via product quantization + asymmetric distance computation
    (ADC) — the third rung of the quantization ladder after int8
    (`sim_topk_int8`) and IVF (`sim_ivf_kmeans_topk`): vectors live as m
    sub-codes (8 bytes here vs 256 float32), and the query scores a
    candidate WITHOUT reconstructing it, by summing m table lookups.

    The query's dot-product table (tab[s][c] = q_s · codebook[s][c],
    m×ksub floats) is computed driver-side and closed over by the ADC
    scoring kernel — scoring is m table lookups + an index-order fold
    per row, no shuffle, TakeOrderedAndProject on top.
    At 100 TB the codes column is what's stored and scanned (32× less
    IO), and the same driver-side-table trick composes with the IVF
    cell pruning. Oracle-checked end to end (same contract as
    sim_ivf_kmeans_topk): deterministic sampled fit + scaled-integer
    means ⇒ bit-identical codebooks, and every driver-side reduction
    here (q normalization, dot tables) is an explicit left fold so the
    oracle reproduces the scores exactly; assignment argmins remain
    cross-kernel comparisons. Recall vs the exact brute force is also
    pinned in pytest.
    """
    from .similarity import fold_dot

    # cosine retrieval under PQ = unit-normalize first, then ADC over raw
    # dots (dot of unit vectors IS the cosine) — otherwise high-norm
    # vectors dominate the dot table and recall collapses.
    raw = par(T(spark, sf_dir, "embeddings"))
    norm = F.sqrt(fold_dot(F.col("embedding"), F.col("embedding")))
    emb = raw.select(
        "vec_id",
        F.transform("embedding", lambda v: (v.cast("double") / norm).cast("float")).alias(
            "embedding"
        ),
    )
    # codebooks train on pq_fit's deterministic 25% sample; every vector
    # is then encoded — at 100 TB the fit cost is a fixed fraction of
    # one scan however large the corpus grows.
    books = pq_fit(emb, m=m, ksub=ksub)

    q_vec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    dsub = _DIM // m
    # explicit left folds (not numpy reductions): these land in the
    # OUTPUT values, so they must reproduce bit-exactly in the oracle
    import math

    qs = 0.0
    for v in q_vec:
        qs += float(v) * float(v)
    qn = [float(v) / math.sqrt(qs) for v in q_vec]
    tab = [
        [
            sum((qn[s * dsub + j] * books[s][c][j] for j in range(dsub)), 0.0)
            for c in range(ksub)
        ]
        for s in range(m)
    ]

    # ADC lookup + m-fold as one Arrow kernel (the `adc_score_topk` r14
    # note: the m×ksub literal table's plan/codegen cost dominated at
    # fixture scale). float64 partials accumulate in subspace index
    # order — the exact IEEE sequence of the old interpreted fold and
    # the oracle's list_reduce, so scores are unchanged bit for bit.
    import numpy as np
    import pandas as pd

    tnp = np.asarray(tab, dtype=np.float64)  # (m, ksub)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray([np.asarray(c) for c in pdf["codes"]])
            acc = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):
                acc = acc + tnp[s, codes[:, s]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "approx_dot": acc})

    coded = pq_encode(emb, books).select("vec_id", "codes")
    scored = coded.mapInPandas(score, schema="vec_id long, approx_dot double")
    return scored.orderBy(F.desc("approx_dot"), "vec_id").limit(10)


def _min_dist_to(emb, centers):
    """(vec_id, embedding) → (vec_id, embedding, dmin): full squared
    distance to the NEAREST of ``centers`` — one Arrow numpy kernel
    (same shape as `assign_cells`, but keeping the true ‖x‖² term:
    unlike argmin-per-row, the k-center ARGMAX compares across rows, so
    the row "constant" matters)."""
    import numpy as np
    import pandas as pd

    c = np.ascontiguousarray(centers, dtype=np.float64)  # (r, dim)
    c_norm = (c * c).sum(axis=1)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ c.T)
                + c_norm[None, :]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "dmin": d2.min(axis=1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, embedding array<float>, dmin double"
    )


def _kcenter_sql(k: int = 8, dim: int = _DIM) -> str:
    """Round-unrolled DuckDB replica of the greedy k-center selection:
    per round, LEAST-accumulated fold distances to the selected set and
    an (dmin DESC, vec_id) argmax. Only ids reach the output, so the
    numpy-vs-fold distance kernels need only agree on comparisons —
    the same cross-kernel contract as the k-means oracles."""

    # DuckDB forbids subqueries inside lambdas, so each round CROSS
    # JOINs its 1-row selected vector in as a plain column (`se`)
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (e[CAST(i AS INT)] - se[CAST(i AS INT)]) "
        f"* (e[CAST(i AS INT)] - se[CAST(i AS INT)])), (a, b) -> a + b)"
    )
    parts = [f"""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    s0 AS (SELECT vec_id, e FROM x WHERE vec_id = 0),
    p1 AS (
      SELECT vec_id, e, {dist} AS dmin
      FROM x, (SELECT e AS se FROM s0)
    )"""]
    for r in range(1, k):
        parts.append(
            f"""
    s{r} AS (SELECT vec_id, e FROM p{r} ORDER BY dmin DESC, vec_id LIMIT 1)"""
        )
        if r < k - 1:
            parts.append(
                f"""
    p{r + 1} AS (
      SELECT vec_id, e, LEAST(dmin, {dist}) AS dmin
      FROM p{r}, (SELECT e AS se FROM s{r})
    )"""
            )
    sels = " UNION ALL ".join(
        f"SELECT {r} AS sel_round, vec_id FROM s{r}" for r in range(k)
    )
    parts.append(f"""
    sel AS ({sels})
    SELECT CAST(sel_round AS INT) AS sel_round, vec_id
    FROM sel ORDER BY sel_round""")
    return ",".join(parts)


@query(
    "curate_kcenter_diversity",
    sql=_kcenter_sql(),
    tags=("curation", "similarity", "diversity"),
)
def curate_kcenter_diversity(spark, sf_dir, k: int = 8):
    """Greedy k-center coreset selection: pick k maximally-spread
    documents by embedding — the diversity-sampling counterpart of
    `dedup_semantic_prune` (that op REMOVES redundant neighbors; this
    one SELECTS a spread skeleton, e.g. seed examples or eval-set
    anchors from each region of embedding space). Greedy farthest-point
    is the classic 2-approximation of the k-center objective.

    Iterative like `lloyd_fit`: k−1 rounds of (one Arrow kernel scan
    computing min distance to the selected set + one
    TakeOrderedAndProject argmax). Driver state is the k×dim selected
    matrix — index metadata, same as the centroid collects. At 100 TB
    the scan cost dominates and is bounded by k scans of the corpus
    (or of a pre-sampled pool, composing with `fit_sample`).

    Oracle-checked: the DuckDB replica unrolls the rounds with
    LEAST-accumulated fold distances; only (sel_round, vec_id) reach
    the output, so cross-kernel distance agreement is needed only for
    comparisons (the k-means oracle contract).
    """
    from pyspark import StorageLevel

    # the corpus is scanned k times (seed lookup + one argmax round per
    # selection); persist it once and size the round jobs from the
    # measured row count (`_fit_width`, the lloyd_fit/pq_fit pattern) —
    # the old per-round `par(T(...))` re-read the parquet AND paid a
    # full-width repartition exchange every round, so at fixture scale
    # 7 rounds of task launch dwarfed the distance kernel. Selection is
    # a deterministic argmax over exact comparisons, so persistence and
    # width are layout-only.
    cached = (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    emb, _ = _fit_width(cached)
    try:
        seed = emb.where(F.col("vec_id") == 0).first()
        sel = [(0, int(seed["vec_id"]), [float(v) for v in seed["embedding"]])]
        for r in range(1, k):
            far = (
                _min_dist_to(emb, [s[2] for s in sel])
                .orderBy(F.desc("dmin"), "vec_id")
                .limit(1)
                .first()
            )
            sel.append(
                (r, int(far["vec_id"]), [float(v) for v in far["embedding"]])
            )
    finally:
        cached.unpersist()
    return local_frame(
        spark, [(r, vid) for r, vid, _ in sel], "sel_round int, vec_id long"
    ).orderBy("sel_round")


_MG_CAP = 128  # Misra-Gries counter capacity per partition
_HH_K = 100  # heavy-hitter threshold: frequency > N div _HH_K


@query(
    "agg_heavy_hitters_mg",
    sql=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt
    FROM toks, tot
    GROUP BY tok, tot.n
    HAVING count(*) > tot.n // {_HH_K}
    """,
    tags=("approx", "sketch", "scale-path"),
)
def agg_heavy_hitters_mg(spark, sf_dir):
    """Exact heavy hitters (tokens with frequency > N/100) found the
    bounded-memory way: a per-partition Misra-Gries summary (128
    counters, merged batch-by-batch with the Agarwal-et-al mergeable-
    summaries prune) proposes a candidate set, and a candidate-filtered
    exact count keeps only the true hitters. Output is EXACT and
    oracle-checked — the sketch only bounds memory, never accuracy.

    Why not a plain groupBy+HAVING? At 100 TB the token domain is
    billions of keys: the full aggregate shuffles the whole vocabulary
    to find a handful of rows. Here the shuffle carries only candidate
    tokens (≤ 128 per partition, deduplicated), because capacity 128 >
    _HH_K−1 guarantees every token with global frequency > N/128 — a
    superset of the > N/100 targets — survives some partition's summary:
    MG with c counters underestimates a partition-local count by at most
    n_p/(c+1), so a global hitter exceeds the bar in at least one
    partition.

    The per-batch merge is vectorized (pandas value_counts, C speed);
    the Python dict touches only BATCH-VOCAB-sized data per batch.
    """
    import pandas as pd

    toks = (
        par(T(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=False)
    )

    def summarize(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["tok"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > _MG_CAP:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[_MG_CAP]
                counters = {t: c - sub for t, c in counters.items() if c > sub}
        yield pd.DataFrame({"tok": pd.Series(list(counters), dtype="object")})

    cands = toks.mapInPandas(summarize, schema="tok string").distinct()
    tot = toks.agg(F.count("*").cast("long").alias("n"))
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .join(F.broadcast(tot))
        .where(F.col("cnt") > F.expr(f"n div {_HH_K}"))
        .select("tok", "cnt")
    )


def _ann_recall_audit_sql() -> str:
    from .registry import QUERIES

    exact = QUERIES["sim_topk_bruteforce"].sql
    ann = QUERIES["sim_ivf_kmeans_topk"].sql
    return f"""
    WITH ex AS (SELECT vec_id FROM ({exact})),
    ann AS (SELECT vec_id FROM ({ann}))
    SELECT CAST(10 AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(10 * count(*) AS INTEGER) AS recall_pct,
           count(*) >= 8 AS recall_ok
    FROM ex JOIN ann USING (vec_id)
    """


@query(
    "sim_ann_recall_audit",
    sql=_ann_recall_audit_sql(),
    tags=("similarity", "audit", "ivf"),
)
def sim_ann_recall_audit(spark, sf_dir):
    """Recall@10 of the learned-quantizer IVF index against the exact
    cosine ranking — the continuous-evaluation query an ANN deployment
    runs after every index rebuild (the retrieval twin of
    `dedup_lsh_recall`). Emits the overlap count, recall percent, and a
    ≥80% contract pin (the measured floor at nprobe=3 of 8 cells —
    probing fewer than half the cells legitimately drops 1-2 of 10;
    raising nprobe raises the bar); the oracle recomputes BOTH rankings
    from their registered SQL verbatim, so a drift in either path (or
    in the fit) flips the row.

    Cost contract: this is an audit query — it runs the exhaustive scan
    on purpose (the truth set cannot be cheaper than exact top-k). At
    100 TB the audit runs on a sampled query set against a sampled
    corpus slice; the production path stays partition-pruned.
    """
    from .similarity import sim_topk_bruteforce

    ex = sim_topk_bruteforce(spark, sf_dir).select("vec_id")
    ann = sim_ivf_kmeans_topk(spark, sf_dir).select("vec_id")
    overlap = ex.join(ann, "vec_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    )
    return overlap.select(
        F.lit(10).cast("int").alias("k"),
        "n_overlap",
        (F.lit(10) * F.col("n_overlap")).cast("int").alias("recall_pct"),
        (F.col("n_overlap") >= 8).alias("recall_ok"),
    )


@query(
    "sim_ivf_store_upsert",
    sql=_ivf_topk_sql(),
    tags=("similarity", "topk", "ivf", "storage"),
)
def sim_ivf_store_upsert(spark, sf_dir, nprobe: int = 3):
    """Incremental IVF index maintenance under the driver hash: build
    the cell-partitioned store from HALF the corpus (even vec_ids),
    then APPEND the other half into the existing cell directories —
    the steady-state life of a production vector index (new embeddings
    arrive; you don't rebuild, you route them to cells and append).
    The probe then answers from the upserted store, and the oracle is
    the full-corpus closed form (same SQL as `sim_ivf_topk` /
    `sim_ivf_store_probe`): a dropped, duplicated, or mis-routed
    appended vector flips the hash.

    Centroids stay FIXED across the upsert (computed once over the
    corpus, like a deployed coarse quantizer); cell assignment of
    arriving vectors reuses them, so the append is a pure partitioned
    write with no index rebuild. At 100 TB: appends land as new files
    inside `cell=<id>` directories, probes stay partition-pruned, and
    compaction (lake_compact_roundtrip's contract) handles the
    small-file accumulation.
    """
    emb = T(spark, sf_dir, "embeddings")
    probe, q_vec = _label_centroid_probe(emb, nprobe)

    def write(path):
        base = emb.where(F.col("vec_id") % 2 == 0).withColumn("cell", F.col("label"))
        late = emb.where(F.col("vec_id") % 2 == 1).withColumn("cell", F.col("label"))
        base.write.partitionBy("cell").mode("overwrite").parquet(path)
        late.write.partitionBy("cell").mode("append").parquet(path)

    return _probe_cell_store(spark, write, probe, q_vec, "ivf_upsert_")


def _mips_sql() -> str:
    from .similarity import _fold_dot_sql

    return """
    WITH m AS (SELECT max({nn}) AS m2 FROM embeddings e),
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    s AS (
      SELECT q.q_id, e.vec_id,
             {dot} AS ip,
             {dot} / (sqrt(m.m2) * sqrt({qq})) AS aug_cos
      FROM embeddings e, q, m
    ),
    ranked AS (
      SELECT q_id, vec_id, ip,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY aug_cos DESC, vec_id) AS rk
      FROM s
    )
    SELECT q_id, vec_id, ip, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """.format(
        nn=_fold_dot_sql("e.embedding", "e.embedding"),
        dot=_fold_dot_sql("e.embedding", "q.qe"),
        qq=_fold_dot_sql("q.qe", "q.qe"),
    )


@query(
    "sim_mips_augmented",
    sql=_mips_sql(),
    tags=("similarity", "topk", "mips", "scale-path"),
)
def sim_mips_augmented(spark, sf_dir):
    """Maximum-inner-product search via the NORM-AUGMENTATION reduction
    (Bachrach et al., RecSys 2014): MIPS is not a metric problem —
    inner product violates the triangle inequality, so cosine/L2 index
    structures (LSH, IVF) cannot serve it directly. The classic fix
    appends one dimension: x' = [x, sqrt(M² − |x|²)] with M = max
    corpus norm, q' = [q, 0]; then |x'| = M for every x, so ANGULAR
    ranking of x' equals INNER-PRODUCT ranking of x — and the whole
    cosine/LSH toolbox (the `sim_lsh_bucketed_topk` / `sim_ivf_*`
    machinery in this repo) becomes MIPS-capable unchanged. This query
    runs the reduction end to end: top-5 per query by the AUGMENTED
    angular score, asserting in-plan that the ranking is identical to
    direct inner-product order, and emitting the raw inner product
    (deterministic left-fold, bit-identical both engines).

    Determinism: aug_cos = ip / (sqrt(M²)·|q|) divides every candidate
    of a query by the SAME positive constant — and the oracle replays
    the exact augmented arithmetic, so even rounding ties rank
    identically. Scale shape: M² is one map-side max; scoring is the
    broadcast-query pattern (one corpus scan for all queries); at
    100 TB the scan hands off to the LSH/IVF candidate path, which is
    the point of the reduction.
    """
    from pyspark.sql import Window

    from .similarity import fold_dot

    emb = T(spark, sf_dir, "embeddings")
    m = emb.agg(
        F.max(fold_dot(F.col("embedding"), F.col("embedding"))).alias("m2")
    )
    q = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        fold_dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    s = (
        emb.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(m))
        .select(
            "q_id",
            "vec_id",
            fold_dot(F.col("embedding"), F.col("qe")).alias("ip"),
            (
                fold_dot(F.col("embedding"), F.col("qe"))
                / (F.sqrt(F.col("m2")) * F.sqrt(F.col("qq")))
            ).alias("aug_cos"),
        )
    )
    w_aug = Window.partitionBy("q_id").orderBy(F.desc("aug_cos"), "vec_id")
    w_ip = Window.partitionBy("q_id").orderBy(F.desc("ip"), "vec_id")
    ranked = s.select(
        "q_id",
        "vec_id",
        "ip",
        F.row_number().over(w_aug).alias("rk"),
        F.row_number().over(w_ip).alias("rk_mips"),
    ).localCheckpoint()
    # the reduction's correctness claim, checked in-query: augmented
    # angular order IS inner-product order
    n_diverged = ranked.where(F.col("rk") != F.col("rk_mips")).count()
    assert n_diverged == 0, f"augmentation reordered {n_diverged} rows"
    return (
        ranked.where(F.col("rk") <= 5)
        .select("q_id", "vec_id", "ip", F.col("rk").cast("int").alias("rk"))
    )


def _ivfpq_sql(k: int = 8, iters: int = 3, mod: int = 4, nprobe: int = 3,
               m: int = 16, ksub: int = 64, dim: int = _DIM,
               topk: int = 10) -> str:
    """DuckDB replica of `sim_ivfpq_topk`: the `_ivf_kmeans_sql` coarse
    chain (renamed i-prefixed CTEs) selects the probed cells over RAW
    vectors; the `_pq_sql` chain fits/encodes NORMALIZED vectors; the
    final ADC scoring is restricted to vectors whose cell is probed.
    Same determinism contracts as both parents."""
    from .similarity import _fold_dot_sql

    dist_ec = _sqdist_sql("e", "c")
    dsub = dim // m
    t = "(dv[CAST(i AS INT)] - bv[CAST(i AS INT)])"
    dist = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), i -> {t} * {t}), "
        f"(a, b) -> a + b)"
    )
    parts = [f"""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    ifit AS (SELECT * FROM x WHERE vec_id % {mod} = 0),
    ic0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, e AS c
      FROM (SELECT vec_id, e FROM ifit ORDER BY vec_id LIMIT {k})
    )"""]
    for r in range(1, iters + 1):
        parts.append(f"""
    ia{r} AS (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM ifit, ic{r - 1}
      GROUP BY vec_id, e
    ),
    iu{r} AS (
      SELECT cell, i,
             CAST(sum(CAST(round(e[CAST(i AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS m
      FROM ia{r}, range(1, {dim + 1}) t(i)
      GROUP BY cell, i
    ),
    icu{r} AS (SELECT cell, list(m ORDER BY i) AS c FROM iu{r} GROUP BY cell),
    ic{r} AS (
      SELECT p.cell, coalesce(n.c, p.c) AS c
      FROM ic{r - 1} p LEFT JOIN icu{r} n USING (cell)
    )""")
    parts.append(f"""
    iq AS (SELECT e AS qe FROM x WHERE vec_id = 0),
    probe AS (
      SELECT cell FROM (SELECT cell, {_sqdist_sql("qe", "c")} AS d
                        FROM ic{iters}, iq)
      ORDER BY d, cell LIMIT {nprobe}
    ),
    af AS (
      SELECT vec_id,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM x, ic{iters}
      GROUP BY vec_id, e
    ),
    cand AS (SELECT vec_id FROM af WHERE cell IN (SELECT cell FROM probe)),
    xn AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(CAST(v AS DOUBLE) / norm AS REAL)) AS ne
      FROM (SELECT vec_id, embedding,
                   sqrt({_fold_dot_sql("embedding", "embedding")}) AS norm
            FROM embeddings)
    ),
    sub AS (
      SELECT vec_id, CAST(s AS INT) AS s,
             list_transform(ne[(CAST(s AS INT) * {dsub} + 1):(CAST(s AS INT) * {dsub} + {dsub})],
                            v -> CAST(v AS DOUBLE)) AS dv
      FROM xn, range(0, {m}) t(s)
    ),
    fsub AS (SELECT * FROM sub WHERE vec_id % {mod} = 0),
    finit AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
      FROM (SELECT DISTINCT vec_id FROM fsub ORDER BY vec_id LIMIT {ksub})
    ),
    b0 AS (SELECT s, code, dv AS bv FROM finit JOIN fsub USING (vec_id))""")
    for r in range(1, iters + 1):
        parts.append(f"""
    a{r} AS (
      SELECT f.vec_id, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM fsub f JOIN b{r - 1} b ON f.s = b.s
      GROUP BY f.vec_id, f.s
    ),
    u{r} AS (
      SELECT a.s, a.code, j,
             CAST(sum(CAST(round(dv[CAST(j AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS mv
      FROM a{r} a JOIN fsub f ON a.vec_id = f.vec_id AND a.s = f.s,
           range(1, {dsub + 1}) t(j)
      GROUP BY a.s, a.code, j
    ),
    bu{r} AS (SELECT s, code, list(mv ORDER BY j) AS bv FROM u{r} GROUP BY s, code),
    b{r} AS (
      SELECT p.s, p.code, coalesce(n.bv, p.bv) AS bv
      FROM b{r - 1} p LEFT JOIN bu{r} n USING (s, code)
    )""")
    parts.append(f"""
    qn AS (
      SELECT list_transform(ne, v -> CAST(v AS DOUBLE)
               / sqrt({_fold_dot_sql("ne", "ne")})) AS qv
      FROM xn WHERE vec_id = 0
    ),
    tabt AS (
      SELECT b.s, b.code,
             list_reduce(list_transform(range(1, {dsub + 1}),
               i -> qv[CAST(b.s * {dsub} + i AS INT)] * bv[CAST(i AS INT)]),
               (a, b) -> a + b) AS val
      FROM b{iters} b, qn
    ),
    ae AS (
      SELECT f.vec_id, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM sub f JOIN cand ON f.vec_id = cand.vec_id
      JOIN b{iters} b ON f.s = b.s
      GROUP BY f.vec_id, f.s
    )
    SELECT vec_id,
           list_reduce(list(val ORDER BY s), (a, b) -> a + b) AS approx_dot
    FROM ae JOIN tabt USING (s, code)
    GROUP BY vec_id
    ORDER BY approx_dot DESC, vec_id
    LIMIT {topk}""")
    return ",".join(parts)


@query(
    "sim_ivfpq_topk",
    sql=_ivfpq_sql(),
    tags=("similarity", "topk", "ivf", "pq", "quantization"),
)
def sim_ivfpq_topk(spark, sf_dir, k: int = 8, nprobe: int = 3,
                   m: int = 16, ksub: int = 64):
    """IVF-PQ composite top-k — the production ANN layout (FAISS
    IndexIVFPQ shape): the learned coarse quantizer prunes the corpus
    to nprobe cells, and PQ/ADC scores ONLY the surviving candidates
    from their 16-byte codes. Composes the two index rungs this module
    already verifies separately (`sim_ivf_kmeans_topk`,
    `sim_topk_pq`): at 100 TB the vectors live cell-partitioned
    (io/ivf_store.py) storing codes instead of floats — a probe reads
    nprobe/k of the corpus at 32× less IO per row, and encode cost is
    paid only for probed cells here (pq_encode runs after the
    candidate semi-join). This variant scores global-codebook codes of
    the original vectors; the FAISS-default residual refinement
    (PQ over vec − centroid, per-cell query tables) is
    `sim_ivfpq_residual_topk` — recall vs brute force is pinned in
    pytest for both.

    Determinism: both fits are the deterministic sampled scaled-integer
    chains their parents pin; probe choice and the query's dot table
    are explicit driver-side left folds; every reduction that reaches
    the OUTPUT is fold-ordered, so the oracle replays fits, probe,
    candidates, codes, and ADC scores end to end.
    """
    import math

    from .similarity import fold_dot

    raw = par(T(spark, sf_dir, "embeddings"))
    centroids = lloyd_fit(raw, k=k, iters=3)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    dq = []
    for cell in range(len(centroids)):
        d = 0.0
        for qi, ci in zip(q_raw, centroids[cell]):
            t = float(qi) - float(ci)
            d += t * t
        dq.append((d, cell))
    probe = [cell for _, cell in sorted(dq)[:nprobe]]
    cand = (
        assign_cells(raw, centroids)
        .where(F.col("cell").isin(probe))
        .select("vec_id")
    )

    norm = F.sqrt(fold_dot(F.col("embedding"), F.col("embedding")))
    emb = raw.select(
        "vec_id",
        F.transform(
            "embedding", lambda v: (v.cast("double") / norm).cast("float")
        ).alias("embedding"),
    )
    books = pq_fit(emb, m=m, ksub=ksub)
    q_vec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    dsub = _DIM // m
    qs = 0.0
    for v in q_vec:
        qs += float(v) * float(v)
    qn = [float(v) / math.sqrt(qs) for v in q_vec]
    tab = [
        [
            sum((qn[s * dsub + j] * books[s][c][j] for j in range(dsub)), 0.0)
            for c in range(ksub)
        ]
        for s in range(m)
    ]
    # ADC lookup + m-fold as one Arrow kernel (the `adc_score_topk`
    # r14 note: the m×ksub literal table's plan/codegen cost dominated
    # at fixture scale, and the fold ran interpreted). float64 partials
    # accumulate in subspace index order — the exact IEEE sequence of
    # the old fold and the oracle's list_reduce.
    import numpy as np
    import pandas as pd

    tnp = np.asarray(tab, dtype=np.float64)  # (m, ksub)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray([np.asarray(c) for c in pdf["codes"]])
            acc = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):
                acc = acc + tnp[s, codes[:, s]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "approx_dot": acc})

    coded = pq_encode(emb.join(cand, "vec_id"), books).select("vec_id", "codes")
    scored = coded.mapInPandas(score, schema="vec_id long, approx_dot double")
    return scored.orderBy(F.desc("approx_dot"), "vec_id").limit(10)


def _ivfpq_residual_sql(k: int = 8, iters: int = 3, mod: int = 4,
                        nprobe: int = 3, m: int = 16, ksub: int = 64,
                        dim: int = _DIM, topk: int = 10) -> str:
    """DuckDB replica of `sim_ivfpq_residual_topk`: the coarse chain
    picks cells over RAW vectors; residuals (vec − assigned centroid,
    float-quantized exactly like the stored form) feed the PQ chain;
    ADC uses a PER-PROBED-CELL query-residual table and scores squared
    L2 (ascending). Same determinism contracts as `_ivfpq_sql`."""
    dist_ec = _sqdist_sql("e", "c")
    dsub = dim // m
    t = "(dv[CAST(i AS INT)] - bv[CAST(i AS INT)])"
    dist = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), i -> {t} * {t}), "
        f"(a, b) -> a + b)"
    )
    parts = [f"""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    ifit AS (SELECT * FROM x WHERE vec_id % {mod} = 0),
    ic0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, e AS c
      FROM (SELECT vec_id, e FROM ifit ORDER BY vec_id LIMIT {k})
    )"""]
    for r in range(1, iters + 1):
        parts.append(f"""
    ia{r} AS (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM ifit, ic{r - 1}
      GROUP BY vec_id, e
    ),
    iu{r} AS (
      SELECT cell, i,
             CAST(sum(CAST(round(e[CAST(i AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS m
      FROM ia{r}, range(1, {dim + 1}) t(i)
      GROUP BY cell, i
    ),
    icu{r} AS (SELECT cell, list(m ORDER BY i) AS c FROM iu{r} GROUP BY cell),
    ic{r} AS (
      SELECT p.cell, coalesce(n.c, p.c) AS c
      FROM ic{r - 1} p LEFT JOIN icu{r} n USING (cell)
    )""")
    parts.append(f"""
    iq AS (SELECT e AS qe FROM x WHERE vec_id = 0),
    probe AS (
      SELECT cell FROM (SELECT cell, {_sqdist_sql("qe", "c")} AS d
                        FROM ic{iters}, iq)
      ORDER BY d, cell LIMIT {nprobe}
    ),
    af AS MATERIALIZED (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM x, ic{iters}
      GROUP BY vec_id, e
    ),
    res AS MATERIALIZED (
      SELECT af.vec_id, af.cell,
             list_transform(range(1, {dim + 1}),
               i -> CAST(CAST(af.e[CAST(i AS INT)] - cc.c[CAST(i AS INT)]
                              AS REAL) AS DOUBLE)) AS re
      FROM af JOIN ic{iters} cc ON af.cell = cc.cell
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, cell, CAST(s AS INT) AS s,
             re[(CAST(s AS INT) * {dsub} + 1):(CAST(s AS INT) * {dsub} + {dsub})]
               AS dv
      FROM res, range(0, {m}) t(s)
    ),
    fsub AS MATERIALIZED (SELECT * FROM sub WHERE vec_id % {mod} = 0),
    finit AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code
      FROM (SELECT DISTINCT vec_id FROM fsub ORDER BY vec_id LIMIT {ksub})
    ),
    b0 AS (SELECT s, code, dv AS bv FROM finit JOIN fsub USING (vec_id))""")
    for r in range(1, iters + 1):
        parts.append(f"""
    a{r} AS (
      SELECT f.vec_id, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM fsub f JOIN b{r - 1} b ON f.s = b.s
      GROUP BY f.vec_id, f.s
    ),
    u{r} AS (
      SELECT a.s, a.code, j,
             CAST(sum(CAST(round(dv[CAST(j AS INT)] * 1e7) AS BIGINT)) AS BIGINT)
               / (count(*) * 1e7) AS mv
      FROM a{r} a JOIN fsub f ON a.vec_id = f.vec_id AND a.s = f.s,
           range(1, {dsub + 1}) t(j)
      GROUP BY a.s, a.code, j
    ),
    bu{r} AS (SELECT s, code, list(mv ORDER BY j) AS bv FROM u{r} GROUP BY s, code),
    b{r} AS (
      SELECT p.s, p.code, coalesce(n.bv, p.bv) AS bv
      FROM b{r - 1} p LEFT JOIN bu{r} n USING (s, code)
    )""")
    parts.append(f"""
    qres AS (
      SELECT p.cell,
             list_transform(range(1, {dim + 1}),
               i -> qe[CAST(i AS INT)] - cc.c[CAST(i AS INT)]) AS qr
      FROM probe p JOIN ic{iters} cc USING (cell), iq
    ),
    tabt AS (
      SELECT q.cell, b.s, b.code,
             list_reduce(list_transform(range(1, {dsub + 1}),
               i -> (qr[CAST(b.s * {dsub} + i AS INT)] - bv[CAST(i AS INT)])
                    * (qr[CAST(b.s * {dsub} + i AS INT)] - bv[CAST(i AS INT)])),
               (a, b) -> a + b) AS val
      FROM b{iters} b, qres q
    ),
    ae AS (
      SELECT f.vec_id, f.cell, f.s,
             (min(struct_pack(d := {dist}, code := code))).code AS code
      FROM sub f
      JOIN probe p ON f.cell = p.cell
      JOIN b{iters} b ON f.s = b.s
      GROUP BY f.vec_id, f.cell, f.s
    )
    SELECT vec_id,
           list_reduce(list(val ORDER BY ae.s), (a, b) -> a + b) AS approx_d2
    FROM ae
    JOIN tabt ON ae.cell = tabt.cell AND ae.s = tabt.s AND ae.code = tabt.code
    GROUP BY vec_id
    ORDER BY approx_d2 ASC, vec_id
    LIMIT {topk}""")
    return ",".join(parts)


def residual_frame(spark, raw, centroids):
    """(vec_id, embedding) → (vec_id, cell, embedding=residual): assign
    each vector to its nearest coarse centroid and subtract it, float-
    quantizing exactly like the stored form (double subtract of
    bit-reproducible Lloyd centroids → one correctly-rounded REAL cast,
    identical in both engines). ONE fused Arrow pass: the r13 shape
    (assign kernel + broadcast centroid join + interpreted per-element
    zip_with) shipped every embedding across the Python boundary and
    then re-walked it element-by-element JVM-side; subtracting inside
    the assignment kernel's numpy batch is the same IEEE op sequence
    (float64 subtract of the float64-widened float32, one
    round-to-nearest float32 cast) at matmul speed — A/B'd
    bit-identical at sf0.1, 1.01 → 0.59 s for the even-half frame
    (r14; guide §4.2)."""
    import numpy as np
    import pandas as pd

    c_mat = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norm = (c_mat * c_mat).sum(axis=1)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = -2.0 * (x @ c_mat.T) + c_norm[None, :]
            cells = d2.argmin(axis=1)  # ties → lowest cell id
            r = (x - c_mat[cells]).astype(np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cells.astype("int32"),
                    "embedding": list(r),
                }
            )

    return raw.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, cell int, embedding array<float>"
    )


def residual_encode(raw, centroids, books, cells=None):
    """(vec_id, embedding) → (vec_id, codes, cell): the full store-side
    residual IVF-PQ encode as ONE fused Arrow pass — assign to the
    nearest coarse centroid, residual-quantize (float64 subtract → one
    float32 cast, exactly the stored `residual_frame` form), PQ-encode
    the float64-widened quantized residual. Replaces the two chained
    kernels (`residual_frame` → `pq_encode`) on every write/append
    path, so the 256-byte embedding crosses the Python boundary once
    and only m small ints come back (guide §4.2; A/B'd identical codes at
    sf0.1, 1.39 → 0.59 s). ``cells`` (optional) keeps the in-plan
    probe contract "encode cost is paid only for probed cells": rows
    assigned outside the probed set are dropped inside the kernel
    before the einsum."""
    import numpy as np
    import pandas as pd

    c_mat = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norm = (c_mat * c_mat).sum(axis=1)
    bk = np.ascontiguousarray(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = bk.shape
    b_norm = (bk * bk).sum(axis=2)
    keep = None if cells is None else np.asarray(sorted(int(c) for c in cells))

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = -2.0 * (x @ c_mat.T) + c_norm[None, :]
            cell = d2.argmin(axis=1)  # ties → lowest cell id
            ids = pdf["vec_id"].to_numpy()
            if keep is not None:
                hit = np.isin(cell, keep)
                if not hit.any():
                    continue
                x, cell, ids = x[hit], cell[hit], ids[hit]
            r = (
                (x - c_mat[cell])
                .astype(np.float32)  # the stored float-quantized residual
                .astype(np.float64)
                .reshape(len(ids), m, dsub)
            )
            e2 = -2.0 * np.einsum("bsd,skd->bsk", r, bk) + b_norm[None, :, :]
            codes = e2.argmin(axis=2).astype("int32")
            yield pd.DataFrame(
                {"vec_id": ids, "codes": list(codes), "cell": cell.astype("int32")}
            )

    return raw.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, codes array<int>, cell int"
    )


def residual_adc_tables(q_raw, centroids, books, probe, m: int, ksub: int):
    """Per-probed-cell ADC lookup tables for residual IVF-PQ: for each
    probed cell, tab[s][c] = ‖(q − centroid_cell)_s − codeword_sc‖²
    (squared L2, ascending score). Driver-side python-float folds in
    fixed index order — nprobe·m·ksub doubles of index metadata,
    bit-identical to the oracle's replay."""
    dsub = _DIM // m
    tab = []
    for cell in probe:
        qr = [float(q_raw[i]) - centroids[cell][i] for i in range(_DIM)]
        tab.append(
            [
                [
                    sum(
                        (
                            (qr[s * dsub + j] - books[s][c][j])
                            * (qr[s * dsub + j] - books[s][c][j])
                            for j in range(dsub)
                        ),
                        0.0,
                    )
                    for c in range(ksub)
                ]
                for s in range(m)
            ]
        )
    return tab


def adc_score_topk(coded, probe, tab, m: int, topk: int = 10):
    """Score (vec_id, cell, codes) rows against per-probed-cell ADC
    tables and return the ascending top-k. The table lookup + m-fold
    runs as one Arrow kernel: the r13 form attached the nprobe×m×ksub
    table as a 3k-element nested array LITERAL and folded it with an
    interpreted `aggregate` — at fixture scale the plan/codegen cost of
    that literal tree dominated the whole probe (1.85 → 0.34 s for
    `ivfpq_probe_topk`, A/B'd bit-identical). The kernel accumulates
    float64 partials in subspace index order (acc = acc + tab[pos, s,
    code_s] for s = 0..m−1) — the exact IEEE sequence of the old fold
    and of the oracle's list_reduce, vectorized across rows. Only the
    (vec_id, approx_d2) scalars cross back; TakeOrderedAndProject
    stays JVM-side."""
    import numpy as np
    import pandas as pd

    t = np.asarray(tab, dtype=np.float64)  # (nprobe, m, ksub)
    cell2pos = {int(c): i for i, c in enumerate(probe)}

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = pdf["cell"].map(cell2pos).to_numpy()
            codes = np.asarray([np.asarray(c) for c in pdf["codes"]])  # (n, m)
            acc = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):  # index-order fold == oracle's list_reduce
                acc = acc + t[pos, s, codes[:, s]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "approx_d2": acc})

    scored = coded.select("vec_id", "cell", "codes").mapInPandas(
        run, schema="vec_id long, approx_d2 double"
    )
    return scored.orderBy(F.asc("approx_d2"), "vec_id").limit(topk)


@query(
    "sim_ivfpq_residual_topk",
    sql=_ivfpq_residual_sql(),
    tags=("similarity", "topk", "ivf", "pq", "quantization", "residual"),
)
def sim_ivfpq_residual_topk(spark, sf_dir, k: int = 8, nprobe: int = 3,
                            m: int = 16, ksub: int = 64):
    """IVF-PQ with RESIDUAL encoding — the FAISS IndexIVFPQ default
    `sim_ivfpq_topk` documented as out of scope, now closed: PQ
    codebooks are trained on (vec − assigned coarse centroid), which
    concentrates the quantized distribution near zero and is why
    residual PQ recalls better than global-codebook PQ at the same
    code size. The consequence the composite must model: ADC needs a
    PER-PROBED-CELL query-residual table (q − centroid_cell), and the
    score is squared L2 (ascending), not a dot product.

    Determinism: residuals are float-quantized exactly like the stored
    form would be (double subtract of bit-reproducible Lloyd centroids
    → one correctly-rounded REAL cast, identical both engines); the
    query residual stays full-precision double — the FAISS asymmetric
    (ADC) convention. Both fits are the deterministic sampled
    scaled-integer chains; per-cell tables and the final per-vector
    score are index-order left folds both engines.

    Scale shape: identical to `sim_ivfpq_topk` plus one broadcast
    centroid join to form residuals — encode cost still paid only for
    probed cells; at 100 TB the cell-partitioned store keeps residual
    codes where the raw vectors lived (io/ivf_store.py), and each
    query touches nprobe cells × nprobe 16-byte-code scans with
    nprobe·m·ksub table entries of metadata.
    """
    from ..io.ivf_store import probe_cells

    raw = par(T(spark, sf_dir, "embeddings"))
    centroids, books = fit_ivfpq(raw, k=k, m=m, ksub=ksub)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    probe = probe_cells(centroids, q_raw, nprobe)
    tab = residual_adc_tables(q_raw, centroids, books, probe, m, ksub)

    # assign + residual-quantize + encode in ONE kernel pass, encoding
    # only rows assigned to probed cells (the in-plan probe contract)
    coded = residual_encode(raw, centroids, books, cells=probe)
    return adc_score_topk(coded, probe, tab, m, topk=10)


@query(
    "sim_ivfpq_store_probe",
    sql=_ivfpq_residual_sql(),
    tags=("similarity", "topk", "ivf", "pq", "residual", "storage"),
)
def sim_ivfpq_store_probe(spark, sf_dir, k: int = 8, nprobe: int = 3,
                          m: int = 16, ksub: int = 64):
    """The STORAGE half of residual IVF-PQ — fit once, query many (the
    FAISS production shape `sim_ivfpq_residual_topk` computes in-plan):
    the coarse centroids and PQ codebooks are fitted once and persisted
    with the cell-partitioned Delta code table through `io/ivf_store.py`
    (`write_ivfpq_store`); the query is then answered PURELY from the
    store (`ivfpq_probe_topk`) — sidecar index → driver-side probe +
    ADC tables → partition-pruned scan of the nprobe cells' committed
    files of m-byte codes → fold-ADC top-k. No re-fit, no raw
    vectors on the query path; same oracle SQL as the in-plan sibling
    because the store is an execution strategy, not a semantics change
    (the contract `sim_ivf_store_probe` pins for plain IVF).

    Scale shape: the fit is the same bounded sampled chain as the
    in-plan sibling, paid ONCE per corpus build; each query touches
    nprobe/k of the corpus at 16 bytes/row plus nprobe·m·ksub doubles
    of sidecar metadata. bench.py times the query path separately
    (`sim_ivfpq_store_query_path`) — the number that matters at
    queries ≫ builds.
    """
    import shutil
    import tempfile

    from ..io.ivf_store import ivfpq_probe_topk, write_ivfpq_store

    raw = par(T(spark, sf_dir, "embeddings"))
    centroids, books = fit_ivfpq(raw, k=k, m=m, ksub=ksub)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]

    path = tempfile.mkdtemp(prefix="ivfpq_store_")
    try:
        write_ivfpq_store(raw, path, centroids, books)
        out = ivfpq_probe_topk(spark, path, q_raw, nprobe=nprobe, topk=10)
        rows = [(r["vec_id"], r["approx_d2"]) for r in out.collect()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(spark, rows, "vec_id long, approx_d2 double")


def _ivfpq_base_fit(spark, sf_dir, k, m, ksub):
    """Shared even-half fit for the store lifecycle queries →
    (even-half raw vectors, odd-half raw vectors, centroids, codebooks,
    query vector). By the fit-sample identity (vec_id % 4 == 0 is a
    subset of the evens) the fitted index equals a full-corpus fit —
    the property that keeps the unchanged in-plan oracle exact for the
    build-half + append-half lifecycles. The store build encodes the
    raw base half directly (`write_ivfpq_store`'s fused kernel), so no
    corpus-sized residual frame is materialized here (r14)."""
    raw = par(T(spark, sf_dir, "embeddings"))
    base = raw.where(F.col("vec_id") % 2 == 0)
    rest = raw.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    centroids, books = fit_ivfpq(base, k=k, m=m, ksub=ksub)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return base, rest, centroids, books, q_raw


@query(
    "sim_ivfpq_store_upsert",
    sql=_ivfpq_residual_sql(),
    tags=("similarity", "topk", "ivf", "pq", "residual", "storage", "incremental"),
)
def sim_ivfpq_store_upsert(spark, sf_dir, k: int = 8, nprobe: int = 3,
                           m: int = 16, ksub: int = 64):
    """Incremental IVF-PQ store maintenance — the FAISS ``add()``
    lifecycle under the driver hash: build the store from HALF the
    corpus (even vec_ids), then APPEND the other half encoded with the
    STORED index (`io/ivf_store.py::append_embeddings_ivfpq` — sidecar
    centroids + codebooks, no refit), then answer the probe over the
    full store. This is the steady-state ingest shape: fit once on a
    representative corpus, every later batch pays one assignment +
    encode pass and a partitioned append.

    Why the oracle is EXACT and unchanged from the in-plan sibling:
    `fit_sample` keeps vec_id % 4 == 0, and every such id is even — so
    the coarse and PQ fits trained on the even half see the IDENTICAL
    sample (same init rows, same Lloyd/PQ chains, bit-identical index)
    as the full-corpus fit the oracle replays. Appended odd vectors are
    assigned and encoded with that stored index, exactly like the
    oracle encodes them — so build-half + append-half + probe must
    reproduce `sim_ivfpq_residual_topk` bit for bit. That identity IS
    the assertion: a refit-on-append, a dropped batch, or an index
    drift between build and append would break the hash.
    """
    import shutil
    import tempfile

    from ..io.ivf_store import (
        append_embeddings_ivfpq,
        ivfpq_probe_topk,
        write_ivfpq_store,
    )

    base, rest, centroids, books, q_raw = _ivfpq_base_fit(spark, sf_dir, k, m, ksub)

    path = tempfile.mkdtemp(prefix="ivfpq_upsert_")
    try:
        write_ivfpq_store(base, path, centroids, books)
        append_embeddings_ivfpq(spark, rest, path)
        out = ivfpq_probe_topk(spark, path, q_raw, nprobe=nprobe, topk=10)
        rows = [(r["vec_id"], r["approx_d2"]) for r in out.collect()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(spark, rows, "vec_id long, approx_d2 double")


@query(
    "sim_ivfpq_store_compact",
    sql=_ivfpq_residual_sql(),
    tags=("similarity", "topk", "ivf", "pq", "residual", "storage", "compaction"),
)
def sim_ivfpq_store_compact(spark, sf_dir, k: int = 8, nprobe: int = 3,
                            m: int = 16, ksub: int = 64):
    """The complete IVF-PQ store lifecycle under one driver hash:
    build from the even half → APPEND the odd half with the stored
    index (`sim_ivfpq_store_upsert`'s step) → COMPACT the small files
    the append left (`io/ivf_store.py::compact_ivfpq_store` — one file
    per cell via `optimize_delta`, published as one Delta commit,
    sidecar untouched) → probe. Compaction moves bytes, never
    semantics, so the result must STILL equal `sim_ivfpq_residual_topk`
    bit for bit (the same fit-sample identity as the upsert query); a
    compaction that dropped, duplicated, or mis-routed a single code
    row would break the hash. The ANN-layer twin of the Delta
    OPTIMIZE contract `lake_compact_roundtrip` pins for the lakehouse.
    """
    import shutil
    import tempfile

    from ..io.ivf_store import (
        append_embeddings_ivfpq,
        compact_ivfpq_store,
        ivfpq_probe_topk,
        write_ivfpq_store,
    )

    base, rest, centroids, books, q_raw = _ivfpq_base_fit(spark, sf_dir, k, m, ksub)

    path = tempfile.mkdtemp(prefix="ivfpq_compact_")
    try:
        write_ivfpq_store(base, path, centroids, books)
        append_embeddings_ivfpq(spark, rest, path)
        stats = compact_ivfpq_store(spark, path)
        if stats["files_after"] >= stats["files_before"]:
            raise RuntimeError(
                f"compaction did not reduce file count: {stats}"
            )  # the query exists to pin this property — fail loudly
        out = ivfpq_probe_topk(spark, path, q_raw, nprobe=nprobe, topk=10)
        rows = [(r["vec_id"], r["approx_d2"]) for r in out.collect()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(spark, rows, "vec_id long, approx_d2 double")


_CELL_BUDGET = 64  # target vectors per quantizer cell (auto-k fit)
_AUTOK_SQL_EXPR = (
    f"SELECT CAST(greatest(2, ceil(count(*) / {_CELL_BUDGET}.0)) AS BIGINT) FROM x"
)


def _auto_k(n: int, budget: int = _CELL_BUDGET) -> int:
    """k ∝ N / cell_budget — the quantizer growth rule SemDeDup's scale
    contract states ("cell size is capped by the quantizer's k at
    100 TB"): k grows linearly with the corpus so |cell| stays ~budget
    and the cell-local Σ|cell|² pair volume stays O(N·budget) — LINEAR
    in N — instead of the quadratic blow-up the round-9 10× probe
    measured (18.2×) when k is held fixed while cells grow. Floor of 2
    so the tiniest fixtures still exercise a real partition. Python
    twin of `_AUTOK_SQL_EXPR` (the oracle computes the same k from the
    same count, so ONE static SQL string is valid at every SF)."""
    import math

    return max(2, math.ceil(n / budget))


def _semdedup_autok_sql(iters: int = 3, mod: int = 4) -> str:
    """DuckDB twin of :func:`dedup_semantic_prune_autok`: the shared
    k-means replay (`_kmeans_fit_parts`, dynamic-k init via a LIMIT
    subquery), full-corpus cell assignment, then the exact SemDeDup
    earlier-id prune inside learned cells."""
    from .dedup import _SEMDEDUP_TAU

    dist_ec = _sqdist_sql("e", "c")
    ab = _dot_sql("a.e", "b.e")
    aa = _dot_sql("a.e", "a.e")
    bb = _dot_sql("b.e", "b.e")
    parts = _kmeans_fit_parts(iters=iters, mod=mod, k_sql=_AUTOK_SQL_EXPR)
    parts.append(f"""
    af AS (
      SELECT vec_id, e,
             (min(struct_pack(d := {dist_ec}, cell := cell))).cell AS cell
      FROM x, c{iters}
      GROUP BY vec_id, e
    ),
    hit AS (
      SELECT b.vec_id, max({ab} / (sqrt({aa}) * sqrt({bb}))) AS max_cos
      FROM af a JOIN af b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {ab} / (sqrt({aa}) * sqrt({bb})) >= {_SEMDEDUP_TAU}
      GROUP BY b.vec_id
    )
    SELECT af.vec_id, CAST(af.cell AS INT) AS cell,
           coalesce(h.max_cos, -1.0) AS max_cos_to_earlier,
           h.vec_id IS NULL AS keep
    FROM af LEFT JOIN hit h ON af.vec_id = h.vec_id""")
    return ",".join(parts)


@query(
    "dedup_semantic_prune_autok",
    sql=_semdedup_autok_sql(),
    tags=("dedup", "embedding", "semantic", "kmeans"),
)
def dedup_semantic_prune_autok(spark, sf_dir):
    """SemDeDup with a LEARNED auto-sized quantizer — the production
    form of :func:`~.dedup.dedup_semantic_prune`'s fixed-cell baseline.

    The baseline uses the fixture ``label`` as the cell id, so its cell
    count is CONSTANT: when the corpus grows 10× every cell grows 10×
    and the cell-local Σ|cell|² pair volume grows 100× (the round-9
    probe's measured 18.2×). Here the quantizer is fit each run with
    k = max(2, ceil(N / 64)) (`_auto_k`) on the deterministic
    1/4 sample (`lloyd_fit` — exact scaled-integer means, so the
    centroids are bit-reproducible), every vector is assigned to its
    nearest cell (one Arrow matmul pass), and the unchanged earlier-id
    prune runs inside cells of ~64 vectors: pair volume
    O(N·budget), linear in the corpus — the "k grows with the corpus"
    bound the SemDeDup paper (Abbas et al. 2023) relies on, now
    implemented instead of assumed. The oracle replays the count→k
    rule (a LIMIT subquery), the Lloyd fit, the assignment argmin, and
    the left-fold cosine prune, so ONE static SQL string stays valid
    at every scale factor.

    Scale shape: fit cost is bounded (sample × k matmul); assignment is
    one scan; the prune shuffles on cell id — at 100 TB the cell id is
    the write-time partition key and the prune is partition-local.
    """
    from .dedup import _SEMDEDUP_TAU
    from .similarity import cosine

    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    k = _auto_k(emb.count())
    centroids = lloyd_fit(emb, k=k, iters=3)
    cells = assign_cells(emb, centroids).localCheckpoint(eager=False)
    a = cells.select(
        F.col("cell").alias("ca"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
    )
    b = cells.select(
        F.col("cell").alias("cb"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    hit = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_b", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .where(F.col("cos") >= _SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.max("cos").alias("max_cos"))
    )
    return cells.join(hit, cells["vec_id"] == hit["vec_b"], "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.coalesce("max_cos", F.lit(-1.0)).alias("max_cos_to_earlier"),
        F.col("vec_b").isNull().alias("keep"),
    )


_AUTO_NPROBE_SQL_EXPR = (
    f"SELECT CAST(greatest(3, ceil(greatest(2, ceil(count(*) / {_CELL_BUDGET}.0))"
    " / 8.0)) AS BIGINT) FROM x"
)


def _auto_nprobe(n: int, budget: int = _CELL_BUDGET) -> int:
    """nprobe grows with the quantizer: k/8 cells probed (floor 3), so
    the probed FRACTION of the corpus stays ~12.5% as auto-k grows k
    linearly with N — constant recall posture instead of the fixed
    nprobe=3 whose coverage shrinks as 3/k. Python twin of
    `_AUTO_NPROBE_SQL_EXPR`."""
    import math

    return max(3, math.ceil(_auto_k(n, budget) / 8))


@query(
    "sim_ivf_autok_topk",
    sql=_ivf_kmeans_sql(k_sql=_AUTOK_SQL_EXPR, nprobe_sql=_AUTO_NPROBE_SQL_EXPR),
    tags=("similarity", "topk", "ivf", "kmeans", "autok"),
)
def sim_ivf_autok_topk(spark, sf_dir):
    """IVF top-k with the AUTO-SIZED learned quantizer — the index
    build `sim_ivf_kmeans_topk` runs when nobody hand-picks k: k =
    max(2, ceil(N/64)) keeps |cell| ~64 as the corpus grows (`_auto_k`,
    the same growth rule `dedup_semantic_prune_autok` implements), and
    nprobe = max(3, ceil(k/8)) keeps the probed corpus fraction ~1/8
    constant instead of decaying as 3/k. At 100 TB this is the FAISS
    sizing heuristic (k ∝ N, nprobe ∝ k for fixed recall) expressed as
    two deterministic count-derived rules that BOTH replay in one
    static oracle (LIMIT subqueries), so the driver hash covers the
    sizing logic itself, not just one frozen configuration.

    Scale shape: identical to `sim_ivf_kmeans_topk` (sampled fit, one
    Arrow matmul assignment pass, probed-cell exact rescore) — only the
    sizes are derived. The probe-selection loop on the driver is O(k)
    over index metadata.
    """
    emb = par(T(spark, sf_dir, "embeddings"))
    n = emb.count()
    return sim_ivf_kmeans_topk(
        spark, sf_dir, k=_auto_k(n), nprobe=_auto_nprobe(n)
    )


def _ivfpq_rerank_sql(shortlist: int = 50, topk: int = 10) -> str:
    """DuckDB twin of :func:`sim_ivfpq_rerank_exact`: the full residual
    IVF-PQ chain trimmed to a ``shortlist``-sized candidate set, then
    the exact squared-L2 rerank over raw (double-cast) vectors — the
    same index-order left fold `_sqdist_sql` states."""
    return f"""
    WITH short AS (
      SELECT vec_id FROM ({_ivfpq_residual_sql(topk=shortlist)})
    ),
    x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT e AS qe FROM x WHERE vec_id = 0)
    SELECT s.vec_id, {_sqdist_sql("e", "qe")} AS exact_d2
    FROM short s JOIN x USING (vec_id), q
    ORDER BY exact_d2, vec_id
    LIMIT {topk}
    """


@query(
    "sim_ivfpq_rerank_exact",
    sql=_ivfpq_rerank_sql(),
    tags=("similarity", "topk", "ivf", "pq", "residual", "rerank"),
)
def sim_ivfpq_rerank_exact(spark, sf_dir, k: int = 8, nprobe: int = 3,
                           m: int = 16, ksub: int = 64,
                           shortlist: int = 50):
    """Two-stage retrieval — the production ANN serving shape FAISS
    calls refine/rerank: the compressed index (residual IVF-PQ, ADC
    scores) prunes the corpus to a ``shortlist`` of candidates, then
    EXACT squared-L2 on the raw vectors reranks just those 50 for the
    final top-10. PQ distances are biased by quantization error; the
    rerank removes that bias from the returned ranking while the index
    still does all the pruning.

    Scale shape: stage 1 touches nprobe cells of 16-byte codes (the
    `sim_ivfpq_residual_topk` plan, sampled fits, k-row metadata
    collects only); stage 2 fetches exactly ``shortlist`` raw vectors
    by id — a broadcast semi-join against the vector table, never a
    second corpus scan of full-precision data. The exact distance is
    the shared index-order left fold, so both engines rank
    identically (ties broken by vec_id).
    """
    from ..io.ivf_store import probe_cells

    raw = par(T(spark, sf_dir, "embeddings"))
    centroids, books = fit_ivfpq(raw, k=k, m=m, ksub=ksub)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    probe = probe_cells(centroids, q_raw, nprobe)
    tab = residual_adc_tables(q_raw, centroids, books, probe, m, ksub)
    coded = residual_encode(raw, centroids, books, cells=probe)
    short = adc_score_topk(coded, probe, tab, m, topk=shortlist).select("vec_id")

    q_arr = F.array(*[F.lit(float(v)) for v in q_raw])
    exact_d2 = F.aggregate(
        F.zip_with(
            F.transform("embedding", lambda v: v.cast("double")),
            q_arr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        F.broadcast(short)
        .join(raw.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", exact_d2.alias("exact_d2"))
        .orderBy("exact_d2", "vec_id")
        .limit(10)
    )
