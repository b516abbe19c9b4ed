"""Near-dup cluster formation: connected components over the pair graph.

Pairwise near-dup detection (Jaccard / MinHash-LSH) yields EDGES; a real
training-data dedup pipeline must then group transitively-linked docs
into CLUSTERS and keep one canonical survivor per cluster (the step
FineWeb/RefinedWeb-style pipelines run after LSH; reference analog:
the dedup stage of preprocess.py's curation flow, preprocess.py:209-230,
which stops at pairwise — clustering is the scale completion).

Spark-first design: iterative min-label propagation on DataFrames,
accelerated by pointer jumping. Each round is one edge-sized shuffle
(edges ⋈ labels, groupBy min) plus one node-sized self-join
(label ← label(label)) that roughly squares the distance labels have
traveled — O(log diameter) rounds instead of O(diameter), the same
idea as the small-star/large-star and hash-to-min CC families. Labels
only decrease, so `sum(label)` is a monotone convergence witness — the
loop stops when the sum stops changing. Lineage is truncated per
iteration with localCheckpoint so plans stay O(1) deep. No GraphX
dependency, pure DataFrame ops, executes anywhere Spark runs.

Oracle: DuckDB WITH RECURSIVE transitive closure + min-over-reachable —
exact same cluster ids (min doc_id in component) by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import minhash as mh
from ..session import rebase, release
from ._util import T, loop_frame, par
from .dedup import JACCARD_PAIRS_SQL, dedup_jaccard_pairs
from .registry import query

# closure over the symmetric edge set; cluster id = min reachable doc_id
# (including self — every node in the edge list has >= 1 neighbor).
_COMPONENTS_CTE = f"""
WITH RECURSIVE jp AS ({JACCARD_PAIRS_SQL}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
"""


def connected_components(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """(doc_a, doc_b) edge list → (id, label) with label = component min id.

    Min-label propagation accelerated by POINTER JUMPING: each round
    first sets label(v) ← min(label(v), min_{u∈N(v)} label(u)) (one
    edge-sized shuffle join), then label(v) ← min(label(v),
    label(label(v))) (one node-sized self-join). Propagation alone
    needs O(diameter) rounds; the jump step roughly squares the
    distance labels have traveled, so the loop converges in
    O(log diameter) rounds — measured 21 → 6 rounds on the sf0.1
    DBSCAN core graph. Every label value is itself a node id (labels
    are mins over sets of ids), so the jump self-join is total.

    Both steps are pointwise non-increasing, so `sum(label)` stays a
    monotone convergence witness: an unchanged sum means NEITHER step
    changed anything, and a propagation fixpoint is exactly
    label = component min. The per-round driver `.first()` fetches ONE
    scalar (the witness), not data — the documented exception for
    iterative algorithms.
    """
    spark = edges.sparkSession
    # Lazily checkpoint the INPUT first: the symmetric union evaluates
    # its child twice (once per branch), and callers pass expensive edge
    # plans (LSH candidates + Jaccard verification, core-edge joins) —
    # without this, that whole plan runs twice inside the eager `sym`
    # materialization below.
    edges = edges.localCheckpoint(eager=False)
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()  # materialize the pair graph once; both the label
    # init and every iteration re-scan it.
    release(edges)
    # Size the loop's width from the MEASURED edge count (the count is
    # a cached-RDD job — sym is already materialized): every round
    # re-shuffles the label frame, and at the session's full-scan width
    # the fixed per-task cost dominates small rounds (r13, measured
    # 14.1 → 3.7 s over 5 rounds on the sf0.1 DBSCAN graph; see
    # `_util.loop_frame`). Labels are mins over int64 ids, so the width
    # cannot change any result.
    sym = loop_frame(sym, sym.count())
    # Seed labels with the first-hop neighbor min (same shuffle cost as
    # the plain `distinct` init, but it bakes round 1 of propagation in).
    lab = (
        sym.groupBy(F.col("doc_a").alias("id"))
        .agg(F.min("doc_b").alias("nb_min"))
        .select("id", F.least("id", "nb_min").alias("label"))
        .localCheckpoint()
    )
    total = lab.agg(F.sum("label")).first()[0]
    converged = False
    for _ in range(max_iters):
        nb = (
            sym.join(lab, sym["doc_b"] == lab["id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nb_min"))
        )
        prop = (
            lab.join(nb, lab["id"] == nb["doc_a"], "left")
            .select(
                lab["id"],
                F.least(lab["label"], F.coalesce(nb["nb_min"], lab["label"])).alias(
                    "label"
                ),
            )
            # lazy: materialized once by the lab_new checkpoint job, then
            # served from cache to both sides of the jump self-join —
            # saves one driver job per round vs an eager checkpoint.
            .localCheckpoint(eager=False)
        )
        jump = prop.select(
            F.col("id").alias("j_id"), F.col("label").alias("j_label")
        )
        lab_new = (
            prop.join(jump, prop["label"] == jump["j_id"], "left")
            .select(
                prop["id"],
                F.least(
                    prop["label"], F.coalesce(jump["j_label"], prop["label"])
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_total = lab_new.agg(F.sum("label")).first()[0]
        # round consumed: its label frames are held only by lab_new's
        # truncated lineage now, so storage stays flat in the round count
        release(lab, prop)
        lab = lab_new
        if new_total == total:  # labels are monotone non-increasing:
            converged = True  # unchanged sum == fixpoint
            break
        total = new_total
    release(sym)
    if not converged:
        # Falling through silently would hand back WRONG labels on a
        # graph whose diameter exceeds the budget (deep chains). Raise:
        # callers choose a bigger budget (rounds are O(diameter), so the
        # retry cost is bounded), never consume bad clusters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "component diameter exceeds the iteration budget — rerun with "
            "a larger max_iters"
        )
    return rebase(lab, spark)


def _cluster_membership(spark, sf_dir) -> DataFrame:
    """(id, label) for every doc in a near-dup cluster — the propagation
    output shared by components/survivors/split (the latter two don't
    need cluster sizes, so they take this directly and skip the size
    agg + join)."""
    edges = dedup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(edges)


@query(
    "dedup_cluster_components",
    sql=_COMPONENTS_CTE
    + """
SELECT doc_id, cluster_id, CAST(cnt AS BIGINT) AS cluster_size
FROM comp
JOIN (SELECT cluster_id, count(*) AS cnt FROM comp GROUP BY cluster_id) USING (cluster_id)
""",
    tags=("dedup", "clustering"),
)
def dedup_cluster_components(spark, sf_dir):
    """doc_id → (cluster_id, cluster_size) for every doc in a near-dup
    cluster (transitive closure of the Jaccard pair graph).

    At 100 TB the edge list comes from the bounded MinHash-LSH candidate
    join instead of the exhaustive pair query — the propagation loop is
    identical, and its per-round shuffle is |edges|, already bounded by
    the LSH band structure.
    """
    lab = _cluster_membership(spark, sf_dir)
    sizes = lab.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return lab.join(sizes, "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


@query(
    "dedup_cluster_survivors",
    sql=_COMPONENTS_CTE
    + """
SELECT d.doc_id, d.lang,
       CASE WHEN comp.doc_id IS NULL THEN 'unique' ELSE 'canonical' END AS keep_reason
FROM documents d
LEFT JOIN comp ON d.doc_id = comp.doc_id
WHERE comp.doc_id IS NULL OR comp.doc_id = comp.cluster_id
""",
    tags=("dedup", "clustering"),
)
def dedup_cluster_survivors(spark, sf_dir):
    """The deduplicated corpus: docs in no cluster, plus the canonical
    (min-id) member of each near-dup cluster — i.e. what a curation
    pipeline actually writes out after clustering.

    Join shape: the cluster membership table is O(clustered docs) — the
    near-dup rate TIMES the corpus, which on a duplicate-heavy crawl is
    a large fraction of the corpus, NOT a bounded dimension. So no
    forced broadcast hint: AQE picks a broadcast join at runtime when
    the membership frame actually fits, and degrades to a shuffle join
    (never an OOM) when it doesn't. Uses the raw propagation labels
    (no cluster-size agg — not needed here).
    """
    comp = _cluster_membership(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = d.join(
        comp.withColumnRenamed("doc_id", "c_doc_id"),
        d["doc_id"] == F.col("c_doc_id"),
        "left",
    )
    return joined.where(
        F.col("c_doc_id").isNull() | (F.col("c_doc_id") == F.col("cluster_id"))
    ).select(
        "doc_id",
        "lang",
        F.when(F.col("c_doc_id").isNull(), F.lit("unique"))
        .otherwise(F.lit("canonical"))
        .alias("keep_reason"),
    )


@query(
    "split_by_cluster",
    sql=_COMPONENTS_CTE
    + """
SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT CASE WHEN substr(md5(CAST(coalesce(comp.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
              BETWEEN '0' AND 'b' THEN 'train' ELSE 'val' END AS split
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
) s
GROUP BY s.split
""",
    tags=("clustering", "training-prep"),
)
def split_by_cluster(spark, sf_dir):
    """Near-dup-aware train/val split: the split key is the CLUSTER id
    (component min doc_id), not the document, so transitively-linked
    near-duplicates land on the same side — closing the leakage channel
    `text_train_val_split`'s content hash closes only for EXACT dups
    (a paraphrased copy hashes differently but still leaks the answer).

    Join shape: cluster membership is O(clustered docs) — unbounded in
    corpus size on a duplicate-heavy crawl — so no forced broadcast
    hint; AQE broadcasts at runtime only when the frame fits. The hash
    input is the cluster id rendered as a string, bit-identical in both
    engines. Uses the raw propagation labels (no cluster-size agg —
    not needed here).
    """
    comp = _cluster_membership(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    d = T(spark, sf_dir, "documents").select("doc_id")
    joined = d.join(
        comp.withColumnRenamed("doc_id", "c_doc_id"),
        d["doc_id"] == F.col("c_doc_id"),
        "left",
    )
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("string")
    split = F.when(
        F.substring(F.md5(key), 1, 1).between("0", "b"), F.lit("train")
    ).otherwise(F.lit("val"))
    return (
        joined.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _fuzzy_corpus_sql() -> str:
    """Oracle for the end-to-end fuzzy-dedup capstone: md5-family LSH
    candidates -> exact Jaccard verification on candidates only ->
    recursive-CTE components -> min-id survivors."""
    return f"""
    WITH RECURSIVE {mh.lsh_cte()},
    ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (a.n_sh + b.n_sh - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM ver
              UNION SELECT doc_b, doc_a FROM ver),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(comp.cluster_id, d.doc_id) AS cluster_id,
           (comp.doc_id IS NULL OR comp.doc_id = comp.cluster_id) AS is_survivor
    FROM documents d LEFT JOIN comp USING (doc_id)
    """


@query("dedup_fuzzy_corpus", sql=_fuzzy_corpus_sql(), tags=("dedup", "clustering", "capstone"))
def dedup_fuzzy_corpus(spark, sf_dir):
    """The dedup capstone — the full FineWeb-style fuzzy-dedup pipeline
    as ONE query: banded MinHash-LSH candidate generation (md5 family,
    oracle-replayable) -> exact Jaccard VERIFICATION computed only on
    the candidate pairs (array_intersect on the two shingle sets — the
    step that kills LSH false positives) -> connected components over
    verified edges -> min-id survivor per cluster. Every doc comes
    back with its cluster id and a survivor flag: the exact frame a
    curation run writes out.

    Scale shape: candidates are band-bucket-bounded (never all-pairs);
    verification touches |candidates| pairs with doc-keyed joins; the
    propagation loop shuffles |edges| per round. The oracle replays
    the ENTIRE pipeline in DuckDB including the recursive closure, so
    the driver hash pins candidate generation, verification, and
    clustering together.
    """
    docs = par(T(spark, sf_dir, "documents"))
    cand = mh.candidates(docs)
    sh = (
        docs.select("doc_id", mh.words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", mh.shingle_strings(F.col("w")).alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n_sh"))
        .localCheckpoint(eager=False)  # verification joins it twice
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    edges = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    lab = connected_components(edges)
    d = T(spark, sf_dir, "documents").select("doc_id")
    # No broadcast hint: `lab` is O(clustered docs), unbounded on a
    # duplicate-heavy crawl — AQE broadcasts at runtime iff it fits.
    j = d.join(
        lab.withColumnRenamed("id", "c_doc_id"), d["doc_id"] == F.col("c_doc_id"), "left"
    )
    return j.select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        (F.col("c_doc_id").isNull() | (F.col("c_doc_id") == F.col("label"))).alias(
            "is_survivor"
        ),
    )


@query(
    "dedup_soft_downweight",
    sql=_COMPONENTS_CTE
    + """
, w AS (
  SELECT d.source,
         CASE WHEN s.cnt IS NULL THEN CAST(1000000 AS BIGINT)
              ELSE CAST(1000000 // s.cnt AS BIGINT) END AS w_ppm
  FROM documents d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
  LEFT JOIN (SELECT cluster_id, count(*) AS cnt FROM comp GROUP BY cluster_id) s
    ON s.cluster_id = c.cluster_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w_ppm) AS BIGINT) AS eff_docs_ppm,
       CAST(count(*) AS DOUBLE) * 1000000 / sum(w_ppm) AS dup_inflation
FROM w GROUP BY source
""",
    tags=("dedup", "clustering", "training-prep"),
)
def dedup_soft_downweight(spark, sf_dir):
    """Soft dedup — DOWN-WEIGHT near-duplicate clusters instead of
    dropping them: each doc in a near-dup cluster of size s trains with
    weight 1/s (so every cluster contributes exactly one doc's worth of
    gradient, but the surface-form diversity inside the cluster is
    kept), unclustered docs keep weight 1. The alternative to
    `dedup_cluster_survivors`' hard keep-one rule, used when near-dups
    carry real variation (translations, revisions, boilerplate-framed
    copies). Emits per-source raw count, effective corpus mass, and the
    duplication inflation factor raw/effective — the number that says
    how over-represented a source would be WITHOUT the weighting.

    Weights are exact ppm integers (1e6 div s, the fixed-point rule) so
    the per-source mass sums are reduction-order-free; the single final
    ratio is one double division. Scale shape: the cluster membership
    is the same bounded propagation as `dedup_cluster_components`
    (LSH-bounded edges at 100 TB); the weight frame carries one row per
    CLUSTERED DOC (not per cluster), so it is unbounded in corpus size
    on a duplicate-heavy crawl — no forced broadcast hint; AQE picks
    broadcast at runtime only when the frame actually fits.
    """
    lab = _cluster_membership(spark, sf_dir)
    sizes = lab.groupBy("label").agg(F.count("*").alias("cnt"))
    wdim = lab.join(sizes, "label").select(
        F.col("id").alias("doc_id"),
        F.expr("CAST(1000000 div cnt AS BIGINT)").alias("w_ppm"),
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    w = d.join(wdim, "doc_id", "left").select(
        "source", F.coalesce("w_ppm", F.lit(1000000).cast("long")).alias("w_ppm")
    )
    return w.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w_ppm").cast("long").alias("eff_docs_ppm"),
        (F.count("*").cast("double") * 1000000 / F.sum("w_ppm")).alias(
            "dup_inflation"
        ),
    )


_DB_EPS = 0.35  # cosine eps-ball (same threshold as dedup_embedding_cosine)
_DB_MIN_NBRS = 3  # core rule: >= 3 eps-neighbors (minPts = 4 counting self)

_DB_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)

_DB_PAIRS_SQL = """
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {ab} / (sqrt({aa}) * sqrt({bb})) >= {eps}
""".format(
    ab=_DB_DOT.format(a="a.embedding", b="b.embedding"),
    aa=_DB_DOT.format(a="a.embedding", b="a.embedding"),
    bb=_DB_DOT.format(a="b.embedding", b="b.embedding"),
    eps=_DB_EPS,
)


def _dbscan_sql(pairs_sql: str) -> str:
    """Shared DBSCAN oracle downstream over any (va, vb) candidate-pair
    SQL — used by the exhaustive baseline and the SRP-bucketed scale
    sibling (identical core rule / CC / border logic)."""
    return f"""
    WITH RECURSIVE p AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p),
    deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS c FROM edges GROUP BY a),
    core AS MATERIALIZED (SELECT v FROM deg WHERE c >= {_DB_MIN_NBRS}),
    ce AS MATERIALIZED (
      SELECT e.a, e.b FROM edges e
      JOIN core ca ON e.a = ca.v JOIN core cb ON e.b = cb.v
    ),
    reach(a, b) AS (
      SELECT a, b FROM ce
      UNION
      SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a
    ),
    comp AS (SELECT a AS v, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    core_lab AS (
      SELECT core.v, coalesce(comp.cluster_id, core.v) AS cluster_id
      FROM core LEFT JOIN comp ON core.v = comp.v
    ),
    border AS (
      SELECT e.a AS v, min(cl.cluster_id) AS cluster_id
      FROM edges e JOIN core_lab cl ON e.b = cl.v
      WHERE e.a NOT IN (SELECT v FROM core)
      GROUP BY e.a
    )
    SELECT emb.vec_id,
           CASE WHEN cl.v IS NOT NULL THEN 'core'
                WHEN bo.v IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(cl.cluster_id, bo.cluster_id) AS cluster_id
    FROM embeddings emb
    LEFT JOIN core_lab cl ON emb.vec_id = cl.v
    LEFT JOIN border bo ON emb.vec_id = bo.v
    """


def _dbscan_downstream(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared Spark DBSCAN downstream over any (va, vb) candidate-pair
    frame: degrees, core rule, min-label CC over core edges, MIN-core
    border attach, role labeling — identical for the exhaustive
    eps-graph and the SRP-bucketed candidate generation.

    Join shape: `core`, `core_lab`, and `border` each carry one row per
    CORE/BORDER POINT — a large fraction of the corpus on a dense or
    duplicate-heavy dataset, NOT a bounded dimension — so none of these
    joins carries a forced broadcast hint. AQE picks broadcast at
    runtime when the frame fits and degrades to a shuffle join when it
    doesn't; a forced hint here would be an executor OOM at 100×
    scale."""
    # Lazy-checkpoint the candidate pairs first: the symmetric union
    # evaluates both branches, and the pair plan (all-pairs cosine or
    # the LSH candidate join) is the most expensive stage — without
    # this it runs twice inside the eager edges materialization.
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.union(
        pairs.select(F.col("vb").alias("va"), F.col("va").alias("vb"))
    ).localCheckpoint()
    # Everything between the (materialized, measured) eps-graph and the
    # final corpus join is edge/node-sized — a dozen joins and group-bys
    # whose shuffles at the session's full-scan width cost more in
    # per-task overhead than in work (r13). Run them at the edge-count
    # width (`_util.loop_frame`) and materialize the two node-sized
    # label frames; the corpus-sized role join stays on the caller's
    # session (at 100 TB the corpus dwarfs the edge list, so its join
    # must keep full-scan parallelism). Width is layout-only: every
    # reduction here is min/count over int64.
    edges = loop_frame(edges, edges.count())
    deg = edges.groupBy(F.col("va").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    core = deg.where(F.col("c") >= _DB_MIN_NBRS).select("v")
    ce = (
        edges.join(core.withColumnRenamed("v", "va"), "va")
        .join(core.withColumnRenamed("v", "vb"), "vb")
        .select(F.col("va").alias("doc_a"), F.col("vb").alias("doc_b"))
    )
    comp = connected_components(ce)  # (id, label) for cores w/ core edges
    core_lab = (
        core.join(comp, core["v"] == comp["id"], "left")
        .select("v", F.coalesce("label", "v").alias("cluster_id"))
        .localCheckpoint()
    )
    border = (
        edges.join(core_lab.withColumnRenamed("v", "vb"), "vb")
        .join(core.withColumnRenamed("v", "va"), "va", "left_anti")
        .groupBy(F.col("va").alias("v"))
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint()
    )
    release(pairs, edges, comp)
    return (
        emb.select("vec_id")
        .join(core_lab.withColumnRenamed("v", "vec_id"), "vec_id", "left")
        .withColumnRenamed("cluster_id", "core_cl")
        .join(border.withColumnRenamed("v", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("core_cl").isNotNull(), "core")
            .when(F.col("cluster_id").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("core_cl", "cluster_id").alias("cluster_id"),
        )
    )


@query(
    "cluster_dbscan_embeddings",
    sql=_dbscan_sql(_DB_PAIRS_SQL),
    tags=("clustering", "dbscan", "embedding", "training-prep"),
)
def cluster_dbscan_embeddings(spark, sf_dir):
    """Deterministic DBSCAN over the embedding cosine eps-graph
    (eps: cos >= 0.35, minPts = 4) — density-based clustering for the
    semantic-dedup / SemDeDup-style grouping a CC-only clustering
    over-merges: CORE points (>= 3 eps-neighbors) chain through density,
    BORDER points attach to a neighboring core's cluster without
    bridging clusters themselves, NOISE stays unclustered. The classic
    DBSCAN border ambiguity (a border touching two clusters) is pinned
    to the MIN core-neighbor cluster id, and cluster id = min core id
    in the density-connected component — fully order-independent, so
    the whole labeling replays in the oracle.

    Scale shape: this registered form rides the exhaustive O(N²)
    pair baseline (same documented contract as dedup_embedding_cosine);
    the 100 TB path is `cluster_dbscan_lsh` — SRP-bucketed candidate
    pairs feeding THIS exact downstream (`_dbscan_downstream`). The
    eps-graph is generated by the blocked cogroup kernel
    (`similarity.allpairs_cosine_threshold`, r14): still O(N²) compute
    by contract, but per-task memory stays bounded by two id-blocks —
    no corpus broadcast, no driver collect — and the threshold is
    decided by the exact left-fold cosine, so the edge set (and every
    downstream label) is bit-identical to the r13 nested-loop form
    (10.4 → ~2 s at sf0.1).
    """
    from .similarity import allpairs_cosine_threshold

    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    pairs = allpairs_cosine_threshold(emb, _DB_EPS).select("va", "vb")
    return _dbscan_downstream(emb, pairs)


def _dbscan_lsh_pairs_sql() -> str:
    from .scale_paths import _srp_pairs_sql

    return (
        "SELECT vec_a AS va, vec_b AS vb FROM ("
        + _srp_pairs_sql()
        + ")"
    )


@query(
    "cluster_dbscan_lsh",
    sql=_dbscan_sql(_dbscan_lsh_pairs_sql()),
    tags=("clustering", "dbscan", "embedding", "lsh", "scale"),
)
def cluster_dbscan_lsh(spark, sf_dir):
    """The 100 TB DBSCAN: SRP-LSH-bucketed candidate eps-edges
    (`dedup_embedding_lsh_pairs` — same 0.35 cosine threshold, banded
    4×4-bit buckets, O(Σ bucket²) instead of O(N²)) feeding the SAME
    downstream as `cluster_dbscan_embeddings` (`_dbscan_downstream`:
    degrees, core rule, min-label CC over core edges, MIN-core border
    attach). This turns the exhaustive baseline's documented scale
    claim into registered, oracle-checked code. Semantics are
    recall-limited BY DESIGN: a qualifying edge missed by all 4 bands
    lowers a point's observed degree, so LSH-DBSCAN is a conservative
    under-clustering of the exact labeling — the trade every
    production SemDeDup run makes; the candidate set itself replays
    exactly in the oracle (double-literal planes, tested sign margin),
    so the driver hash pins the whole pipeline.

    Scale shape: candidate generation shuffles on (band, bucket) keys
    with bounded buckets; everything downstream is O(candidate edges)
    with per-round localCheckpointed CC — no all-pairs join anywhere.
    """
    from .scale_paths import dedup_embedding_lsh_pairs

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = dedup_embedding_lsh_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("va"), F.col("vec_b").alias("vb")
    )
    return _dbscan_downstream(emb, pairs)

