"""Deduplication operators (north-star §2.9): exact, normalized,
n-gram-Jaccard near-dup (exhaustive-recall), MinHash-LSH (scale path),
SimHash, duplicated-span coverage/trim, SemDeDup-style semantic prune.

Everything registered here is oracle-checked. The MinHash-LSH queries
run on the md5/affine family of `etl_github_spark/minhash.py`, which
states every step in Spark and in DuckDB, so the oracle replays the
whole banding pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import minhash as mh
from ..io.lsh_store import (
    append_bands_store,
    compact_bands_store,
    store_delta_pairs,
    store_judge_docs,
    store_neardup_pairs,
    write_bands_store,
)
from ..minhash import words
from ..session import local_frame
from ._util import T, hamming_pairs, hamming_pairs_sql, par
from .registry import query


# shingle document-frequency cap for candidate generation: shingles hotter
# than this are dropped before the inverted-index self-join (see
# dedup_jaccard_pairs docstring for the recall contract). Far above any
# fixture df (max 25 at sf0.1); at 100 TB this is the knob that bounds the
# worst bucket to df_cap² candidates.
_DF_CAP = 1000


@query(
    "dedup_exact_distinct",
    sql="SELECT DISTINCT text, lang FROM documents",
    tags=("dedup",),
)
def dedup_exact_distinct(spark, sf_dir):
    # exact dedup == hash groupBy on the full value; Spark plans a
    # partial+final HashAggregate (shuffle volume = |distinct|).
    return T(spark, sf_dir, "documents").select("text", "lang").distinct()


@query(
    "dedup_exact_keep_first",
    sql="""
    SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY text
    """,
    tags=("dedup",),
)
def dedup_exact_keep_first(spark, sf_dir):
    # deterministic survivor choice (min id) — dropDuplicates keeps an
    # arbitrary row, which is not reproducible across runs/engines.
    return (
        T(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


@query(
    "dedup_summary",
    sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_unique_norm
    FROM documents
    """,
    tags=("dedup",),
)
def dedup_summary(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.countDistinct(F.md5(norm)).alias("n_unique_norm"),
    )


def _hashed_shingles(words_col, n: int = 3):
    """Distinct xxhash64'd word n-gram shingles as an array<long> column.

    Two-level hash: each WORD is xxhash64'd once, then each shingle id
    is ``xxhash64(h_1, …, h_n)`` over the n word hashes — built as
    ``arrays_zip`` of n shifted slices of the word-hash array + one
    ``transform`` pass. Versus hashing per-shingle ``concat_ws``
    strings (the r5–r12 formulation), every word's bytes are hashed
    once instead of n times and the per-shingle hash touches 8·n bytes
    of longs instead of a freshly allocated string — ~30% faster
    shingling at sf0.1 (0.84 → 0.58 s for the exploded index), guide
    §1.2 "per-task work". (The earlier ``transform(sequence, i ->
    element_at(w, i+k))`` formulation did a per-element indexed array
    lookup on the interpreted higher-order path and was ~6× slower
    still.) Callers must pre-filter ``size(words) >= n`` so the slice
    length stays positive (ANSI mode).

    Consumers rely on shingle-id EQUALITY only (join/count/distinct —
    or, for the prefix filter, any consistent total order), so the id
    family is swappable short of a 64-bit collision — the same
    contract the docstrings of `dedup_jaccard_pairs` and
    `curate_decontaminate` already state. All six consuming queries
    re-verified oracle-identical under this family at both SFs.
    """
    wh = F.transform(words_col, lambda x: F.xxhash64(x))
    m = F.size(words_col) - (n - 1)
    z = F.arrays_zip(*[F.slice(wh, 1 + k, m) for k in range(n)])
    return F.array_distinct(
        F.transform(z, lambda s: F.xxhash64(*[s[str(k)] for k in range(n)]))
    )


# full-recall trigram-Jaccard pair query (DuckDB). Shared with the
# clustering module, which wraps it as a CTE under WITH RECURSIVE.
JACCARD_PAIRS_SQL = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
    FROM pairs
    WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.08
    """


@query("dedup_jaccard_pairs", sql=JACCARD_PAIRS_SQL, tags=("dedup", "neardup"))
def dedup_jaccard_pairs(spark, sf_dir, df_cap: int = _DF_CAP):
    """Exhaustive-recall n-gram Jaccard near-dup.

    Candidate pairs = docs sharing >= 1 trigram shingle (any pair with
    Jaccard >= t necessarily shares one, so recall is exact *below the
    df cap*). Shingles occurring in more than ``df_cap`` documents are
    dropped before the self-join: one viral shingle with df=D otherwise
    produces a D² candidate bucket, the quadratic blow-up that kills
    this plan at 100 TB. Recall contract: a qualifying pair is missed
    only if *every* shingle it shares is hotter than ``df_cap`` — for
    near-dup text (many shared shingles, most of them rare) this is
    vanishingly unlikely at any sane cap; shared counts for surviving
    pairs exclude capped shingles, so their Jaccard is a lower bound.
    The fixtures' max shingle df is 25 (sf0.1), so results here are
    bit-identical to the uncapped oracle. The MinHash-LSH variant below
    is the fully-bounded 100 TB path.
    """
    # materialize the token array once per row (lambda bodies are not
    # CSE'd: element_at(split(text), i) would re-split per element).
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("w"))
        .where(F.size("w") >= 3)
    )
    # join on xxhash64(shingle) longs, not shingle strings: ~3× smaller
    # shuffle payload and cheaper key compare; counts are unchanged short
    # of a 64-bit collision (~1e-9 at millions of distinct shingles).
    # n_sh (the Jaccard denominator) counts ALL shingles, pre-cap.
    sh = d.select("doc_id", _hashed_shingles(F.col("w")).alias("hs")).select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("sh")
    )
    # both self-join sides reference this subtree and Spark does not reuse
    # the exchange across them — materialize once (executor-local blocks)
    # instead of re-shingling the corpus twice.
    sh = sh.localCheckpoint(eager=False)
    # document-frequency cap: the hot-shingle set is tiny by definition,
    # so it broadcasts; the anti-join is map-side on both join inputs.
    hot = (
        sh.groupBy("sh").agg(F.count("*").alias("df")).where(F.col("df") > df_cap)
    ).select("sh")
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    jac = F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        jac >= 0.08
    )


_EMB_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)


@query(
    "dedup_embedding_cosine",
    sql="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {ab} / (sqrt({aa}) * sqrt({bb})) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {ab} / (sqrt({aa}) * sqrt({bb})) >= 0.35
    """.format(
        ab=_EMB_DOT.format(a="a.embedding", b="b.embedding"),
        aa=_EMB_DOT.format(a="a.embedding", b="a.embedding"),
        bb=_EMB_DOT.format(a="b.embedding", b="b.embedding"),
    ),
    tags=("dedup", "neardup", "embedding"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= 0.35; the synthetic
    embeddings top out near 0.51, so this is the top ~0.1% of pairs).

    Exhaustive-recall baseline: all-pairs cosine with every emitted
    cos_sim the deterministic left-fold value (bit-identical to the
    oracle). O(N²) by construction — the scale path is
    sim_lsh_bucketed_topk's SRP bucketing, which turns candidate
    generation into bucket-local joins. Since r14 the pair generation
    runs as the blocked cogroup kernel
    (`similarity.allpairs_cosine_threshold`): matmul prefilter, exact
    cumsum-fold recompute for survivors, per-task memory bounded by
    two id-blocks — no corpus broadcast, no driver collect (the same
    memory-safety the r9 unhinted nested loop bought, minus its
    per-pair interpreted-fold cost).
    """
    from .similarity import allpairs_cosine_threshold

    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    return allpairs_cosine_threshold(emb, 0.35).select(
        F.col("va").alias("vec_a"), F.col("vb").alias("vec_b"), "cos_sim"
    )


# --- MinHash-LSH near-dup: the scale path ----------------------------------


def _lsh_recall_sql() -> str:
    """DuckDB twin of :func:`dedup_lsh_recall`: the exact-Jaccard truth
    set left-joined to the banded candidates."""
    return f"""
    WITH {mh.lsh_cte()},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
      FROM pairs
      WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
    )
    SELECT t.doc_a, t.doc_b, t.jaccard,
           (c.doc_a IS NOT NULL) AS recalled
    FROM truth t LEFT JOIN cand c
      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    """


@query("dedup_minhash_lsh", sql=mh.est_sql(), tags=("dedup", "neardup", "lsh"))
def dedup_minhash_lsh(spark, sf_dir):
    """Candidate near-dup pairs via banded MinHash-LSH (8 bands × 4
    rows over a 32-component signature), estimated Jaccard >= 0.5.

    Bands of the signature are bucketed; only docs sharing a band
    bucket are paired, so the self-join is bucket-local — never
    all-pairs (the standard recall-for-scalability trade vs
    dedup_jaccard_pairs). The hash family is the md5/affine one of
    `etl_github_spark/minhash.py` (md5(shingle) 60-bit id, h_i(x) =
    (a_i·x + b_i) mod (2^31−1) with fixed splitmix-derived constants),
    bit-identical in Spark and DuckDB, so the ENTIRE pipeline —
    signatures, bands, candidate join, per-pair agreement estimate — is
    replayed by the oracle and driver-hashed.

    est_jaccard is agree/32 — an exact dyadic double both engines
    represent identically; the >= 0.5 threshold is evaluated as the
    integer compare agree*2 >= 32.

    Scale shape: per-row signature computation (no explode-shuffle),
    band explode is 8× |docs|, bucket join touches only co-bucketed
    pairs; localCheckpoint stops the signature subtree recomputing on
    both sides of the self-join.
    """
    docs = par(T(spark, sf_dir, "documents"))
    return mh.near(mh.candidates(docs, with_est=True))


@query("dedup_lsh_recall", sql=_lsh_recall_sql(), tags=("dedup", "neardup", "lsh"))
def dedup_lsh_recall(spark, sf_dir):
    """Recall of banded MinHash-LSH against the exact Jaccard truth set.

    One row per true near-dup pair (exact trigram Jaccard >= 0.5) with a
    ``recalled`` flag: whether the banded-LSH candidate generation (8
    bands x 4 rows, md5-derived hash family — identical constants in
    both engines) surfaced the pair. The oracle recomputes the ENTIRE
    pipeline (shingles → signatures → bands → candidates → recall join)
    in DuckDB, so the driver hash pins the recall behavior itself —
    including genuine banding misses — not just row counts.
    """
    docs = par(T(spark, sf_dir, "documents"))
    truth = dedup_jaccard_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.5)
    cand = mh.candidates(docs).withColumn("hit", F.lit(True))
    return truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.coalesce("hit", F.lit(False)).alias("recalled"),
    )


_SIMHASH_BITS = 60  # md5-derived word ids carry 60 bits (15 hex chars)


def _simhash_cte() -> str:
    """Shared DuckDB CTE chain computing `sim(doc_id, simhash)` —
    reused by the bucket audit and the Hamming-radius pair oracles."""
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
      FROM w
    ),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {assemble} AS simhash FROM bits)"""


def _simhash_sql() -> str:
    """DuckDB twin of :func:`dedup_simhash` over the md5 word-id family."""
    return f"""{_simhash_cte()},
    buckets AS (
      SELECT simhash, CAST(count(*) AS BIGINT) AS bucket_size
      FROM sim GROUP BY simhash HAVING count(*) > 1
    )
    SELECT s.doc_id, s.simhash,
           CAST(coalesce(b.bucket_size, 1) AS BIGINT) AS bucket_size
    FROM sim s LEFT JOIN buckets b USING (simhash)
    """


def _simhash_frame(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash): the shared 60-bit SimHash computation behind
    the bucket audit and the Hamming-radius pair ops."""
    docs = par(T(spark, sf_dir, "documents"))
    w = docs.select("doc_id", F.explode(F.array_distinct(words())).alias("word"))
    h = w.select(
        "doc_id",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    import functools

    bit_terms = [
        F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(_SIMHASH_BITS)
    ]
    return bit_sums.select(
        "doc_id",
        functools.reduce(lambda x, y: x.bitwiseOR(y), bit_terms).alias("simhash"),
    )


@query("dedup_simhash", sql=_simhash_sql(), tags=("dedup", "neardup"))
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash per document from word-level md5 features.

    sign-sum per bit position, fully vectorized: explode words → per-bit
    ±1 contributions via bit tests → groupBy doc sum → reassemble bits.
    Near-dup candidates = identical simhash (Hamming-0 buckets); wider
    Hamming radii are `dedup_simhash_hamming`'s banded pigeonhole join.

    Hash family: word id = first 60 bits of md5(word) — chosen so the
    ENTIRE pipeline (word ids → bit sign-sums → reassembled fingerprint
    → bucket sizes) replays bit-identically in the DuckDB oracle
    (same pattern as dedup_lsh_recall; integer arithmetic throughout,
    no float anywhere). At 100 TB swap xxhash64 in for the word id —
    one changed expression; the md5 family exists to keep the operator
    falsifiable cross-engine.
    """
    sim = _simhash_frame(spark, sf_dir)
    dup_buckets = (
        sim.groupBy("simhash")
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("keep_id"))
        .where(F.col("bucket_size") > 1)
    )
    return sim.join(dup_buckets, "simhash", "left").select(
        "doc_id", "simhash", F.coalesce("bucket_size", F.lit(1)).alias("bucket_size")
    )


def _dup_span_positions(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, tok_idx) token positions covered by a 4-gram
    occurring in >= 2 distinct documents. ``d`` must be
    (doc_id, _w: array<string>) pre-filtered to ``size(_w) >= 4``
    (positive slice lengths under ANSI mode). tok_idx is 1-based."""
    w = F.col("_w")
    m = F.size(w) - 3
    z = F.arrays_zip(*[F.slice(w, 1 + k, m) for k in range(4)])
    grams = F.transform(
        z, lambda s: F.xxhash64(F.concat_ws(" ", *[s[str(k)] for k in range(4)]))
    )
    g = d.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("dfreq"))
        .where(F.col("dfreq") >= 2)
        .select("gram")
    )
    return (
        g.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos") + 1, F.col("pos") + 4)).alias("tok_idx"),
        )
        .distinct()
    )


_SPAN_SQL = """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 4
    ),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens, toks,
             unnest(range(1, len(toks) - 2)) AS i
      FROM tok
    ),
    g2 AS (
      SELECT doc_id, n_tokens, i,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS gram
      FROM g
    ),
    dup AS (
      SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
      FROM (
        SELECT DISTINCT g2.doc_id, u.tok_idx
        FROM g2 JOIN dup USING (gram),
             unnest(range(g2.i, g2.i + 4)) AS u(tok_idx)
      )
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_tokens,
           CAST(coalesce(c.n_dup, 0) AS DOUBLE) / b.n_tokens AS dup_span_frac
    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents WHERE len(string_split(text, ' ')) >= 4) b
    LEFT JOIN cov c USING (doc_id)
    """


@query("dedup_span_coverage", sql=_SPAN_SQL, tags=("dedup", "neardup", "quality"))
def dedup_span_coverage(spark, sf_dir):
    """Duplicated-span coverage per document: the fraction of a doc's
    tokens that sit inside a 4-gram occurring in >= 2 distinct docs —
    the per-document signal behind substring-level corpus dedup
    ("train-data dedup" style: drop or trim docs whose text is largely
    duplicated elsewhere). Differs from dedup_jaccard_pairs (pairwise
    set overlap) and quality_boilerplate_ngrams (per-ngram df): output
    is a per-doc token-coverage statistic usable as a quality filter.

    Shape: positional 4-grams via the shifted-slice zip (one pass per
    token), xxhash64-keyed; duplicated grams found by a hash agg on
    (gram -> distinct doc count); coverage = distinct token positions
    under any duplicated gram. Shuffles: gram agg + gram join (both
    keyed on the hashed gram, partial-agg map-side) and the
    (doc_id, tok_idx) distinct. No all-pairs join anywhere, so the op
    is linear in corpus size at 100 TB; the oracle joins gram STRINGS —
    parity holds short of a 64-bit xxhash collision (same contract as
    dedup_jaccard_pairs).
    """
    w = F.col("_w")
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("_w"))
        .where(F.size(w) >= 4)
    )
    cov = (
        _dup_span_positions(d)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    base = d.select("doc_id", F.size(w).cast("long").alias("n_tokens"))
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0).cast("long"))
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        n_dup.alias("n_dup_tokens"),
        (n_dup.cast("double") / F.col("n_tokens")).alias("dup_span_frac"),
    )


_TRIM_SQL = """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 4
    ),
    g2 AS (
      SELECT doc_id, i,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i FROM tok)
    ),
    dup AS (
      SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT g2.doc_id, u.tok_idx
      FROM g2 JOIN dup USING (gram),
           unnest(range(g2.i, g2.i + 4)) AS u(tok_idx)
    ),
    pos AS (
      SELECT doc_id, toks[i] AS word, i
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok)
    ),
    kept AS (
      SELECT p.doc_id, count(*) AS n_kept,
             string_agg(p.word, ' ' ORDER BY p.i) AS trimmed
      FROM pos p
      ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.tok_idx
      GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.trimmed, '') AS trimmed_text
    FROM tok t LEFT JOIN kept k USING (doc_id)
    """


@query("dedup_span_trim", sql=_TRIM_SQL, tags=("dedup", "neardup", "quality"))
def dedup_span_trim(spark, sf_dir):
    """Exact-substring dedup, trim flavor: REMOVE every token that sits
    inside a cross-document duplicated 4-gram and emit the residual
    text (per Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better", which cuts the duplicated span rather than
    the whole doc). Complements dedup_span_coverage (the statistic) with
    the actual rewrite a curation pipeline applies.

    Shape: duplicated positions from the shared gram-df kernel
    (:func:`_dup_span_positions`), collapsed to one sorted position
    array per doc (bounded by doc length), then a single doc_id-keyed
    left join back to the token arrays; the trim itself is a JVM-side
    higher-order ``filter`` over the token array using the positional
    lambda index — no explode of the corpus tokens, no Python. Linear
    in corpus size; the only shuffles are the gram agg/join inside the
    kernel and the doc_id join.
    """
    w = F.col("_w")
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("_w"))
        .where(F.size(w) >= 4)
    )
    dup_idx = (
        _dup_span_positions(d)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok_idx")).alias("_dup"))
    )
    dup = F.coalesce(F.col("_dup"), F.expr("array()").cast("array<int>"))
    kept = F.filter(w, lambda x, i: ~F.array_contains(dup, i + F.lit(1)))
    return (
        d.join(dup_idx, "doc_id", "left")
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, " ").alias("trimmed_text"),
        )
    )


_SEMDEDUP_TAU = 0.30  # within-label cos >= tau → near-semantic duplicate
# (fixture embeddings top out at ~0.475 within-label; 0.30 keeps the
# prune non-trivial at every SF)

_SEMDEDUP_SQL = f"""
    WITH hit AS (
      SELECT b.vec_id, max({{ab}} / (sqrt({{aa}}) * sqrt({{bb}}))) AS max_cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {{ab}} / (sqrt({{aa}}) * sqrt({{bb}})) >= {_SEMDEDUP_TAU}
      GROUP BY b.vec_id
    )
    SELECT e.vec_id, e.label,
           coalesce(h.max_cos, -1.0) AS max_cos_to_earlier,
           h.vec_id IS NULL AS keep
    FROM embeddings e LEFT JOIN hit h USING (vec_id)
    """.format(
    ab=_EMB_DOT.format(a="a.embedding", b="b.embedding"),
    aa=_EMB_DOT.format(a="a.embedding", b="a.embedding"),
    bb=_EMB_DOT.format(a="b.embedding", b="b.embedding"),
)


@query("dedup_semantic_prune", sql=_SEMDEDUP_SQL, tags=("dedup", "embedding", "semantic"))
def dedup_semantic_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning (Abbas et al. 2023): partition
    the embedding space into cells, then inside each cell drop every
    vector that is near-duplicate (cos >= tau) of a LOWER-id vector.
    The fixture's ``label`` column stands in for the k-means cell id
    (sim_ivf_kmeans_topk holds the learned-quantizer machinery; using
    the given label keeps this query fully oracle-checkable). The
    earlier-id rule is the deterministic keep-first variant of
    SemDeDup's per-cell prune.

    Scale shape: the pairwise join is CELL-LOCAL — both sides hash-
    partition on label, so candidate volume is sum(|cell|^2), never
    corpus^2; cell size is capped by the quantizer's k at 100 TB (same
    bound SemDeDup relies on). Cosines use the deterministic left-fold
    so the oracle is bit-identical.
    """
    from .similarity import cosine

    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "label", "embedding")
    a = emb.select(
        F.col("label").alias("la"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
    )
    b = emb.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    cos = cosine(F.col("ea"), F.col("eb"))
    hit = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_b", cos.alias("cos"))
        .where(F.col("cos") >= _SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.max("cos").alias("max_cos"))
    )
    return (
        emb.join(hit, emb["vec_id"] == hit["vec_b"], "left")
        .select(
            "vec_id",
            "label",
            F.coalesce("max_cos", F.lit(-1.0)).alias("max_cos_to_earlier"),
            F.col("vec_b").isNull().alias("keep"),
        )
    )


_CONTAINMENT_SQL = f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    -- replicate the Spark plan's document-frequency cap: shingles hotter
    -- than df_cap are ignorable on BOTH sides (dropped before sizes are
    -- counted), so containment is judged over the capped shingle sets
    ex AS (
      SELECT * FROM ex0
      WHERE sh NOT IN (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) > {_DF_CAP})
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM ex GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a AS contained_id, doc_b AS container_id,
           ca.n_sh AS n_sh_contained,
           cb.n_sh AS n_sh_container
    FROM pairs
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE shared = ca.n_sh AND cb.n_sh > ca.n_sh
    """


@query("dedup_containment_pairs", sql=_CONTAINMENT_SQL, tags=("dedup", "neardup"))
def dedup_containment_pairs(spark, sf_dir, df_cap: int = _DF_CAP):
    """Containment dedup: pairs where one document's trigram-shingle
    set is FULLY contained in a strictly larger document's — the
    quote-expansion / boilerplate-wrapper duplication class that
    symmetric Jaccard under-scores (a 20-token doc quoted inside a
    400-token doc has Jaccard ~0.05 but containment 1.0; near-dup
    thresholds never catch it).

    Shape: the same bounded inverted-index join as
    :func:`dedup_jaccard_pairs` (xxhash64 keys, df-capped hot
    shingles, one materialized shingle subtree) but DIRECTED
    (doc_a != doc_b, not <) because containment is asymmetric;
    containment holds iff shared == |A|.

    Cap semantics: shingles hotter than ``df_cap`` are treated as
    ignorable on BOTH sides — per-doc sizes are counted AFTER the hot
    filter, so containment is judged over the capped shingle sets (the
    oracle applies the same cap). Counting sizes before the filter
    would make any contained doc holding one hot shingle unable to
    reach ``shared == |A|`` — silently dropping exactly the
    boilerplate-wrapper pairs this op targets. False-negative mode
    under the cap: a pair is missed only if the contained doc's capped
    set coincidentally matches inside an unrelated container; a pair
    is *gained* only when the docs differ solely in shingles hotter
    than ``df_cap`` (df > 1000 ≈ boilerplate by definition).
    """
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("w"))
        .where(F.size("w") >= 3)
    )
    sh = d.select("doc_id", F.explode(_hashed_shingles(F.col("w"))).alias("sh"))
    sh = sh.localCheckpoint(eager=False)
    hot = (
        sh.groupBy("sh").agg(F.count("*").alias("df")).where(F.col("df") > df_cap)
    ).select("sh")
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    # per-doc shingle counts over the CAPPED sets (one small agg keyed on
    # doc_id; joined back post-pair-agg so the self-join carries no size col)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    # UNDIRECTED candidate join (<, not !=): containment is asymmetric,
    # but both directions are decidable from one (lo, hi) row — strict
    # n_b > n_a means mutual containment is impossible — so the directed
    # formulation would only double every shingle bucket's join and agg
    # volume (measured 2.1× end-to-end on the 10× probe corpus).
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("lo_id"),
            F.col("b.doc_id").alias("hi_id"),
        )
        .agg(F.count("*").alias("shared"))
    )
    scored = (
        pairs.join(cnt.withColumnsRenamed({"doc_id": "lo_id", "n_sh": "n_lo"}), "lo_id")
        .join(cnt.withColumnsRenamed({"doc_id": "hi_id", "n_sh": "n_hi"}), "hi_id")
    )
    directed = F.when(
        (F.col("shared") == F.col("n_lo")) & (F.col("n_hi") > F.col("n_lo")),
        F.struct(
            F.col("lo_id").alias("contained_id"),
            F.col("hi_id").alias("container_id"),
            F.col("n_lo").alias("n_a"),
            F.col("n_hi").alias("n_b"),
        ),
    ).when(
        (F.col("shared") == F.col("n_hi")) & (F.col("n_lo") > F.col("n_hi")),
        F.struct(
            F.col("hi_id").alias("contained_id"),
            F.col("lo_id").alias("container_id"),
            F.col("n_hi").alias("n_a"),
            F.col("n_lo").alias("n_b"),
        ),
    )
    return (
        scored.select(directed.alias("d"))
        .where(F.col("d").isNotNull())
        .select(
            F.col("d.contained_id").alias("contained_id"),
            F.col("d.container_id").alias("container_id"),
            F.col("d.n_a").alias("n_sh_contained"),
            F.col("d.n_b").alias("n_sh_container"),
        )
    )


_PREFIX_K = 8  # tokens of shared prefix that define a truncation group

_PREFIX_SQL = f"""
    WITH p AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(array_to_string(string_split(text, ' ')[1:{_PREFIX_K}], ' ')) AS pfx
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_PREFIX_K}
    )
    SELECT doc_id, group_size, rn = 1 AS is_longest, n_tokens
    FROM (
      SELECT doc_id, n_tokens,
             row_number() OVER (PARTITION BY pfx
                                ORDER BY n_tokens DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY pfx) AS BIGINT) AS group_size
      FROM p
    )
    WHERE group_size > 1
    """


@query("dedup_prefix_groups", sql=_PREFIX_SQL, tags=("dedup", "neardup"))
def dedup_prefix_groups(spark, sf_dir):
    """Prefix-truncation duplicate groups: documents sharing their
    first {K} tokens verbatim — the crawl-artifact class where the
    same page is captured at different truncation lengths (pagination,
    fetch limits). Survivor = the LONGEST member (max tokens, min
    doc_id tie-break): the opposite of exact dedup's keep-first,
    because truncation means the longest capture is the most complete.

    Shape: one md5-of-prefix projection, one group agg with a
    deterministic max_by/struct-max survivor, one hash-keyed join
    back. Shuffle volume is |docs with a shared prefix|.
    """
    w = F.col("_w")
    p = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("_w"))
        .where(F.size(w) >= _PREFIX_K)
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            F.md5(F.array_join(F.slice(w, 1, _PREFIX_K), " ")).alias("pfx"),
        )
    )
    g = (
        p.groupBy("pfx")
        .agg(
            F.count("*").alias("group_size"),
            F.max(
                F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg"), F.col("doc_id"))
            )["doc_id"].alias("keep_id"),
        )
        .where(F.col("group_size") > 1)
    )
    return p.join(g, "pfx").select(
        "doc_id",
        "group_size",
        (F.col("doc_id") == F.col("keep_id")).alias("is_longest"),
        "n_tokens",
    )


_PREFIX_JACCARD_SQL = """
    WITH sh0 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    docs AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh0),
    ex AS (SELECT doc_id, n_sh, unnest(shingles) AS sh FROM docs),
    dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY sh),
    ranked AS (
      SELECT e.doc_id, e.n_sh, e.sh,
             row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.sh) AS rn
      FROM ex e JOIN dfreq d USING (sh)
    ),
    pref AS (SELECT doc_id, sh FROM ranked WHERE rn <= n_sh - ((n_sh + 1) // 2) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(da.shingles, db.shingles)) AS BIGINT) AS shared,
             da.n_sh AS n_a, db.n_sh AS n_b
      FROM cand c
      JOIN docs da ON c.doc_a = da.doc_id
      JOIN docs db ON c.doc_b = db.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
    FROM v WHERE 3 * shared >= n_a + n_b
    """


@query("dedup_jaccard_prefix", sql=_PREFIX_JACCARD_SQL, tags=("dedup", "neardup", "scale"))
def dedup_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered exact Jaccard at t = 1/2 (PPJoin-style): the
    candidate-bounded EXACT path between the exhaustive inverted index
    (`dedup_jaccard_pairs`, every shared shingle generates candidates)
    and MinHash-LSH (bounded but probabilistic). Theorem: order each
    doc's shingles by ANY global total order; if J(A,B) >= t, the first
    |A| - ceil(t·|A|) + 1 shingles of A and the first such prefix of B
    must intersect — so indexing only prefixes (about half of each doc
    at t = 1/2, and the RAREST half, since the order used is document
    frequency ascending) keeps exact recall while hot shingles fall out
    of the index unless they are somebody's rarest half. Survivors are
    verified with an exact set intersection, and the t-test is integer
    (3·shared >= n_a + n_b) — no float in any decision.

    Because recall holds for ANY order, the Spark side (xxhash64 ids,
    (df, hash) order) and the oracle (strings, (df, string) order) may
    build DIFFERENT candidate sets yet must verify to the SAME pairs —
    the parity check covers the theorem, not just the arithmetic.

    Scale shape: df table (one hash agg) joins the exploded index once
    (shuffle by shingle), per-doc prefix rank is a doc-partitioned
    window, the self-join runs on the halved rare-shingle index, and
    only candidate pairs ever move full shingle arrays.
    """
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("w"))
        .where(F.size("w") >= 3)
    )
    docs = d.select(
        "doc_id", F.array_sort(_hashed_shingles(F.col("w"))).alias("hs")
    ).select("doc_id", "hs", F.size("hs").alias("n_sh"))
    docs = docs.localCheckpoint(eager=False)  # reused by index + both verify sides
    ex = docs.select("doc_id", "n_sh", F.explode("hs").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count("*").alias("df"))
    wnd = Window.partitionBy("doc_id").orderBy("df", "sh")
    pref = (
        ex.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(wnd))
        .where(F.col("rn") <= F.expr("n_sh - ((n_sh + 1) div 2) + 1"))
        .select("doc_id", "sh")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    va = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a")
    )
    vb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b")
    )
    v = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("long").alias("shared"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        v.where(3 * F.col("shared") >= F.col("n_a") + F.col("n_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "dedup_simhash_hamming",
    sql=f"{_simhash_cte()},{hamming_pairs_sql('sim', 'simhash')}",
    tags=("dedup", "neardup", "scale"),
)
def dedup_simhash_hamming(spark, sf_dir):
    """Near-dup pairs at SimHash Hamming distance <= 3 — the wider-radius
    companion of `dedup_simhash` (whose buckets catch only distance 0).
    Pigeonhole banding: split the 60-bit fingerprint into 4 x 15-bit
    bands; two hashes within distance 3 differ in at most 3 bands, so at
    least one band is IDENTICAL — a band-value equi-join generates every
    qualifying pair (exact recall, no probabilistic misses), and an
    xor+popcount check verifies the true distance. The standard
    multi-table SimHash index (Manku et al.'s web-crawl dedup shape),
    all integer end to end, so the oracle replays it bit-exactly.

    Scale shape: 4 band rows per doc, equi-join keyed on 15-bit band
    values (bounded buckets at corpus scale ~ corpus/2^15 per value),
    verification is two longs per candidate — no arrays move.
    """
    sim = _simhash_frame(spark, sf_dir)
    sim = sim.localCheckpoint(eager=False)  # reused by all 4 band selects
    return hamming_pairs(sim, "simhash")


@query(
    "dedup_rate_by_source",
    sql="""
    WITH g AS (
      SELECT source, text, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, text
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(c) - count(*) AS BIGINT) AS n_dupes,
           CAST((1000 * (sum(c) - count(*))) // sum(c) AS BIGINT)
             AS dup_permille
    FROM g GROUP BY source
    """,
    tags=("dedup", "profiling"),
)
def dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplicate rate — the provenance breakdown of
    `dedup_summary`: which feed is shipping copies? The first question
    after any global dup number, because the fix (dedupe at the source,
    renegotiate the feed, drop the mirror) is per-source. Integer
    permille, two hash aggregations, both map-side combinable.
    """
    g = (
        T(spark, sf_dir, "documents")
        .groupBy("source", "text")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return g.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_unique"),
        (F.sum("c") - F.count("*")).cast("long").alias("n_dupes"),
        F.expr("(1000 * (sum(c) - count(*))) div sum(c)")
        .cast("long")
        .alias("dup_permille"),
    )


@query(
    "dedup_cross_source_syndication",
    sql="""
    WITH g AS (
      SELECT array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(min(doc_id) AS BIGINT) AS canonical_id
      FROM documents GROUP BY 1
    )
    SELECT canonical_id, n_copies, n_sources
    FROM g WHERE n_sources >= 2
    """,
    tags=("dedup", "profiling"),
)
def dedup_cross_source_syndication(spark, sf_dir):
    """Syndication detector: document groups sharing the same first-8-
    token prefix across TWO OR MORE sources — the feed-overlap signal
    `dedup_rate_by_source` (within-source copies) cannot see. Prefix
    identity rather than full-text identity because syndicated copies
    rarely match byte-for-byte (appended attribution lines, tracking
    suffixes); the prefix is the stable part — the same truncation
    contract `dedup_prefix_groups` uses. High cross-source multiplicity
    means feeds mirror each other and a naive per-source token budget
    double-pays for the same content; canonical_id (min doc_id) is the
    survivor the budget should charge once.

    One hash aggregation keyed on the prefix (at 100 TB: xxhash64 the
    prefix so the shuffle key is 8 bytes); combinable aggregates only.
    """
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
    return (
        T(spark, sf_dir, "documents")
        .groupBy(prefix.alias("prefix"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .where(F.col("n_sources") >= 2)
        .select("canonical_id", "n_copies", "n_sources")
    )


# the shared CTE chain (sh/ex/pairs) without the pair-emitting SELECT —
# the sweep adds its own threshold-spine tail
_SWEEP_CTES = JACCARD_PAIRS_SQL[: JACCARD_PAIRS_SQL.index("SELECT doc_a")].rstrip()


@query(
    "dedup_threshold_sweep",
    sql=_SWEEP_CTES
    + """,
    t AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS threshold_decile),
    hits AS (
      SELECT t.threshold_decile, p.doc_a, p.doc_b
      FROM pairs p JOIN t
        ON 10 * p.shared >= t.threshold_decile * (p.n_a + p.n_b - p.shared)
    ),
    pc AS (
      SELECT threshold_decile, CAST(count(*) AS BIGINT) AS n_pairs
      FROM hits GROUP BY 1
    ),
    dc AS (
      SELECT threshold_decile, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      FROM (SELECT threshold_decile, doc_a AS d FROM hits
            UNION ALL SELECT threshold_decile, doc_b FROM hits)
      GROUP BY 1
    )
    SELECT t.threshold_decile,
           coalesce(pc.n_pairs, 0) AS n_pairs,
           coalesce(dc.n_docs, 0) AS n_docs
    FROM t LEFT JOIN pc USING (threshold_decile)
    LEFT JOIN dc USING (threshold_decile)
    """,
    tags=("dedup", "neardup", "tuning"),
)
def dedup_threshold_sweep(spark, sf_dir, df_cap: int = _DF_CAP):
    """Dedup-rate sensitivity curve — the tuning sweep run BEFORE fixing
    a near-dup threshold: for each Jaccard decile t/10 (t = 1..9), how
    many candidate pairs and how many distinct documents would be
    flagged at-or-above it. The curve's knee is where a pipeline sets
    its threshold (too low → real content merged, too high → boilerplate
    twins survive); re-running it per corpus snapshot catches drift in
    the duplicate structure itself.

    ONE pass over the same capped shingle self-join as
    `dedup_jaccard_pairs` serves all nine thresholds — the decile test
    is the INTEGER comparison 10·shared ≥ t·(union): no float Jaccard
    ever materializes, so decile boundaries cannot disagree between
    engines. The 9-way explode happens on the (already tiny) pair
    frame, never on the shingle fan-out; thresholds with zero hits
    still emit their row via the spine left-join.
    """
    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", words().alias("w"))
        .where(F.size("w") >= 3)
    )
    sh = d.select("doc_id", _hashed_shingles(F.col("w")).alias("hs")).select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("sh")
    )
    sh = sh.localCheckpoint(eager=False)
    hot = (
        sh.groupBy("sh").agg(F.count("*").alias("df")).where(F.col("df") > df_cap)
    ).select("sh")
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    # A pair passes decile t iff 10·shared ≥ t·union ⟺ t ≤ (10·shared)
    # div union (union ≥ shared ≥ 1, integer t) — so instead of a 9-way
    # explode of the pair frame + a countDistinct over its doubled
    # union (two wide shuffles of 9×|pairs| rows), compute each pair's
    # MAXIMUM passing decile once and read both curves off ≤9-row
    # histograms as suffix sums: n_pairs(t) counts pairs with dec ≥ t,
    # and a doc is flagged at t iff its BEST pair passes t, so
    # n_docs(t) counts docs by max-over-pairs decile. Exact integer
    # arithmetic throughout — bit-identical to the exploded form.
    dec = F.least(
        F.lit(9),
        F.expr("(10 * shared) div (n_a + n_b - shared)"),
    ).cast("int")
    pdec = (
        pairs.select("doc_a", "doc_b", dec.alias("dec"))
        .where(F.col("dec") >= 1)
        .localCheckpoint(eager=False)
    )
    pair_hist = pdec.groupBy("dec").agg(F.count("*").cast("long").alias("np"))
    doc_hist = (
        pdec.select(F.col("doc_a").alias("d"), "dec")
        .unionAll(pdec.select(F.col("doc_b").alias("d"), "dec"))
        .groupBy("d")
        .agg(F.max("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count("*").cast("long").alias("nd"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("threshold_decile"))
    pc = (
        spine.join(
            F.broadcast(pair_hist),
            F.col("threshold_decile") <= F.col("dec"),
            "left",
        )
        .groupBy("threshold_decile")
        .agg(F.sum("np").cast("long").alias("n_pairs"))
    )
    dc = (
        spine.join(
            F.broadcast(doc_hist),
            F.col("threshold_decile") <= F.col("dec"),
            "left",
        )
        .groupBy("threshold_decile")
        .agg(F.sum("nd").cast("long").alias("n_docs"))
    )
    return (
        spine.join(F.broadcast(pc), "threshold_decile", "left")
        .join(F.broadcast(dc), "threshold_decile", "left")
        .select(
            "threshold_decile",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
        )
    )


@query(
    "dedup_novelty_over_time",
    sql="""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT CAST(doc_id * 10 // n AS BIGINT) AS ingest_decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_of_earlier,
           CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_ppm
    FROM h CROSS JOIN tot
    GROUP BY 1
    """,
    tags=("dedup", "monitoring"),
)
def dedup_novelty_over_time(spark, sf_dir):
    """Novelty decay curve — for each decile of ingest order (doc_id is
    the arrival proxy), the share of documents that exactly duplicate
    an EARLIER document. This is the curve every continuously-crawled
    corpus develops: dup rate climbs as the frontier re-visits known
    content, and the knee tells you when incremental crawling stops
    paying. `dedup_rate_by_source` gives the per-origin cut; this is
    the per-epoch cut that schedules re-crawls.

    "Earlier" is exact keep-first semantics: a doc is a dup iff its
    doc_id exceeds the min doc_id of its content hash — one
    min-over-hash window (shuffle by content hash, the same partitioning
    exact dedup already pays), then a ten-group rollup keyed by
    doc_id·10 div N. All-integer output, no global sort, no self-join.
    """
    d = T(spark, sf_dir, "documents")
    wh = Window.partitionBy(F.md5("text"))
    tot = d.agg(F.count("*").cast("long").alias("n"))
    h = d.select(
        "doc_id",
        (F.col("doc_id") > F.min("doc_id").over(wh)).cast("int").alias("is_dup"),
    )
    return (
        h.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("CAST(doc_id * 10 div n AS BIGINT)").alias("ingest_decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_of_earlier"),
        )
        .select(
            "ingest_decile",
            "n_docs",
            "n_dup_of_earlier",
            F.expr(
                "CAST(n_dup_of_earlier * 1000000 div n_docs AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


def _pow_txt(x: str, n: int) -> str:
    """Integer power as an explicit multiplication tree (exponentiation
    by squaring) — the SAME expression text is handed to Spark and
    DuckDB, so every intermediate double is the identical
    correctly-rounded product in both engines. libm pow() is never
    called (it differs in the last ulp across implementations)."""
    if n == 1:
        return x
    h = _pow_txt(x, n // 2)
    sq = f"({h} * {h})"
    return sq if n % 2 == 0 else f"({sq} * {x})"


#: (bands, rows) layouts of a 120-hash MinHash signature
_LSH_CONFIGS = [(60, 2), (30, 4), (24, 5), (15, 8), (12, 10)]
_LSH_GRID = list(range(50, 1000, 50))  # Jaccard s in permille
_LSH_THRESHOLD = 500  # target permille: pairs above are wanted


def _lsh_p_txt(b: int, r: int) -> str:
    """P(candidate | jaccard = s) = 1 − (1 − s^r)^b over the permille
    grid column `sp`."""
    s = "(CAST(sp AS DOUBLE) / 1000.0)"
    return f"(1.0 - {_pow_txt(f'(1.0 - {_pow_txt(s, r)})', b)})"


def _lsh_plan_sql(configs: list[tuple[int, int]] = _LSH_CONFIGS) -> str:
    selects = []
    for b, r in configs:
        p = _lsh_p_txt(b, r)
        selects.append(f"""
    SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
           CAST(max(CASE WHEN {p} < 0.5 THEN sp END) AS BIGINT) AS s50_below_permille,
           CAST(sum(CASE WHEN sp < {_LSH_THRESHOLD}
                 THEN CAST(floor({p} * 1e9) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS fp_nano_sum,
           CAST(sum(CASE WHEN sp >= {_LSH_THRESHOLD}
                 THEN CAST(floor((1.0 - {p}) * 1e9) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS fn_nano_sum
    FROM (SELECT CAST(i AS INTEGER) AS sp
          FROM range({_LSH_GRID[0]}, 1000, 50) t(i))""")
    return " UNION ALL ".join(selects)


@query(
    "dedup_lsh_parameter_plan",
    sql=_lsh_plan_sql(),
    tags=("dedup", "lsh", "planning", "index"),
)
def dedup_lsh_parameter_plan(spark, sf_dir):
    """MinHash-LSH parameter planner: for each (bands, rows) layout of
    a 120-hash signature, evaluate the S-curve P(candidate | s) =
    1 − (1 − s^r)^b on a Jaccard grid and report (a) where the curve
    crosses 1/2 (the layout's effective threshold), (b) the summed
    false-positive mass below the 0.5-Jaccard target, and (c) the
    summed false-negative mass above it. This is the decision table
    behind `dedup_minhash_lsh`'s banding choice — at 100 TB you pick
    the layout BEFORE burning a corpus pass, because bands set the
    candidate-join volume (fp) and rows set the recall loss (fn).
    Pure index metadata: the corpus is never touched.

    Exactness: s^r and (1−s^r)^b are explicit multiplication TREES
    (exponentiation by squaring emitted as the same expression text to
    both engines — libm pow() is never called), each grid probability
    is floor-quantized to integer nano-units, and the fp/fn masses are
    exact int64 sums. The s50 crossing is an integer max over
    comparisons. Scale shape: 5 configs × 19 grid rows — constant.
    """
    frames = []
    for b, r in _LSH_CONFIGS:
        p = _lsh_p_txt(b, r)
        grid = spark.range(_LSH_GRID[0], 1000, 50).select(
            F.col("id").cast("int").alias("sp")
        )
        frames.append(
            grid.agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.max(F.when(F.expr(p) < 0.5, F.col("sp")))
                .cast("long")
                .alias("s50_below_permille"),
                F.sum(
                    F.when(
                        F.col("sp") < _LSH_THRESHOLD,
                        F.floor(F.expr(p) * 1e9).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                )
                .cast("long")
                .alias("fp_nano_sum"),
                F.sum(
                    F.when(
                        F.col("sp") >= _LSH_THRESHOLD,
                        F.floor((1.0 - F.expr(p)) * 1e9).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                )
                .cast("long")
                .alias("fn_nano_sum"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


#: (bands, rows) layouts of the 32-hash md5/affine signature the
#: banded near-dup family actually runs on — the autoband candidates.
_AUTOBAND_CONFIGS = [(32, 1), (16, 2), (8, 4), (4, 8), (2, 16)]


def _autoband_choice_rows(spark) -> list:
    """The planner's decision table, evaluated for the 32-hash layouts:
    one row per (bands, rows_per_band) with the exact int64 fp/fn
    nano-masses around the 0.5-Jaccard target (same multiplication-tree
    + floor-quantization exactness as `dedup_lsh_parameter_plan`).
    Constant metadata — 5 layouts × 19 grid rows, corpus never touched."""
    frames = []
    for b, r in _AUTOBAND_CONFIGS:
        p = _lsh_p_txt(b, r)
        grid = spark.range(_LSH_GRID[0], 1000, 50).select(
            F.col("id").cast("int").alias("sp")
        )
        frames.append(
            grid.agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.sum(
                    F.when(
                        F.col("sp") < _LSH_THRESHOLD,
                        F.floor(F.expr(p) * 1e9).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                )
                .cast("long")
                .alias("fp_nano_sum"),
                F.sum(
                    F.when(
                        F.col("sp") >= _LSH_THRESHOLD,
                        F.floor((1.0 - F.expr(p)) * 1e9).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                )
                .cast("long")
                .alias("fn_nano_sum"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out.collect()


def _autoband_select(rows) -> tuple[int, int]:
    """argmin(fp+fn, tie-break fewer bands) over the decision table —
    the count-free twin of `scale_paths._auto_k`'s count→k rule: the
    layout is derived from the stated 0.5 target, never hand-picked."""
    best = min(rows, key=lambda r: (r["fp_nano_sum"] + r["fn_nano_sum"], r["bands"]))
    return int(best["bands"]), int(best["rows_per_band"])


def _lsh_autoband_sql() -> str:
    """DuckDB twin of ``dedup_minhash_lsh_autoband``: the SAME banded
    candidate + agreement-estimate pipeline as `minhash.est_sql`, but
    the oracle also REPLAYS THE LAYOUT SELECTION — the 32-hash decision
    table and its argmin run as CTEs, and the final WHERE requires the
    selected layout to be the (8, 4) the static banding CTEs encode. If
    the selection rule (or its arithmetic) ever drifts so that another
    layout wins, the oracle returns ZERO rows and the driver hash
    breaks loudly — the same falsifiability contract as the auto-k
    LIMIT-subquery replay in `scale_paths._semdedup_autok_sql`."""
    return f"""
    WITH lshplan AS ({_lsh_plan_sql(_AUTOBAND_CONFIGS)}),
    sel AS (
      SELECT bands, rows_per_band FROM lshplan
      ORDER BY fp_nano_sum + fn_nano_sum, bands LIMIT 1
    ),
    {mh.lsh_cte()},
    est AS ({mh.est_select()})
    SELECT e.doc_a, e.doc_b, e.est_jaccard, s.bands, s.rows_per_band
    FROM est e CROSS JOIN sel s
    WHERE s.bands = 8 AND s.rows_per_band = 4
    """


@query(
    "dedup_minhash_lsh_autoband",
    sql=_lsh_autoband_sql(),
    tags=("dedup", "neardup", "lsh", "planning"),
)
def dedup_minhash_lsh_autoband(spark, sf_dir):
    """`dedup_minhash_lsh` with the banding layout DERIVED, not
    hand-picked: the S-curve decision table for every (b, r) layout of
    the 32-hash signature (`_autoband_choice_rows` — the 32-hash twin
    of `dedup_lsh_parameter_plan`) is evaluated at runtime and the
    fp+fn-minimizing layout at the 0.5-Jaccard target is wired into
    the banded candidate join. For n=32 at t=0.5 the rule selects
    8 bands × 4 rows — i.e. the planner PROVES the constant the fixed
    sibling hard-codes (pytest pins the selection against the Python
    twin; the oracle replays table, argmin, and banding, and goes
    empty-set if the rule ever drifts from the static layout).

    At 100 TB this is the order of operations that matters: the layout
    choice costs 5 layouts × 19 grid rows of constant metadata BEFORE
    the corpus pass, and bands set the candidate-join volume while
    rows set the recall loss — burning a pass to discover a bad layout
    is the expensive mistake the planner exists to prevent.

    Scale shape: identical to `dedup_minhash_lsh` (the selected layout
    is the same 8×4) plus two constant metadata columns — per-row
    signatures, band explode 8×|docs|, bucket-local candidate join.
    """
    b, r = _autoband_select(_autoband_choice_rows(spark))
    if b * r != mh.N_HASHES:  # layout must tile the signature exactly
        raise ValueError(f"autoband selected ({b},{r}) which does not tile {mh.N_HASHES}")
    docs = par(T(spark, sf_dir, "documents"))
    return (
        mh.near(mh.candidates(docs, with_est=True, band_size=r))
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.lit(b).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
        )
    )


_PAIRS_SCHEMA = "doc_a long, doc_b long, est_jaccard double"


def _from_store(spark, sf_dir, schema: str, steps) -> DataFrame:
    """Run ``steps(docs, path)`` — store operators over the documents
    table and a fresh temp store root, returning the answer frame — then
    collect the answer, remove the store and hand the rows back as a
    driver-built frame of ``schema``."""
    import shutil
    import tempfile

    docs = par(T(spark, sf_dir, "documents"))
    path = tempfile.mkdtemp(prefix="lsh_store_")
    try:
        rows = [tuple(r) for r in steps(docs, path).collect()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(spark, rows, schema)


@query(
    "dedup_lsh_store_pairs",
    sql=mh.est_sql(),
    tags=("dedup", "neardup", "lsh", "storage"),
)
def dedup_lsh_store_pairs(spark, sf_dir):
    """The STORAGE half of banded MinHash-LSH dedup — index once, query
    many (`io/lsh_store.py`, the fit-free sibling of the IVF-PQ store):
    the corpus is shingled/hashed/banded ONCE into a persisted band
    index (skinny (doc_id, bucket) rows partitioned by band, signatures
    stored once per doc in a side table, family sidecar), and the
    near-dup question is answered PURELY from the store — bucket-local
    self-join of the band rows, two signature joins for the agreement
    estimate, no text touched. Same oracle as `dedup_minhash_lsh`: the
    store is an execution strategy, not a semantics change.

    At 100 TB this is the order of operations that matters: banding is
    the expensive corpus pass (shingle + 32 hashes per doc) and is paid
    once at ingest; every later dedup sweep, batch judgment, or
    cluster-formation run joins 8 skinny index rows per doc instead of
    recomputing the family. Scale shape: candidate volume is the same
    Σ|bucket|² as the in-plan form; stored band rows are ~20 bytes vs
    the document text they replace.
    """
    def steps(docs, path):
        write_bands_store(docs, path)
        return store_neardup_pairs(spark, path)

    return _from_store(spark, sf_dir, _PAIRS_SCHEMA, steps)


@query(
    "dedup_lsh_store_upsert",
    sql=mh.est_sql(),
    tags=("dedup", "neardup", "lsh", "storage", "incremental"),
)
def dedup_lsh_store_upsert(spark, sf_dir):
    """Incremental LSH-index maintenance under the driver hash: build
    the band store from HALF the corpus (even doc_ids), APPEND the odd
    half banded with the STORED family (`append_bands_store` — sidecar-
    validated, refuses a mismatched banding layout), then answer the
    full-corpus near-dup question from the combined index. Banding is
    fit-free, so append-then-query must be BIT-IDENTICAL to a full
    rebuild — the oracle is `dedup_minhash_lsh`'s, unchanged; a dropped
    batch, a double-append, or a family drift between build and append
    breaks the hash. This is the steady-state ingest shape: each
    arriving batch pays one map-side banding pass and a partitioned
    append, never a corpus rebuild (the stronger fit-free twin of
    `sim_ivfpq_store_upsert`'s sample-identity argument).
    """
    def steps(docs, path):
        write_bands_store(docs.where(F.col("doc_id") % 2 == 0), path)
        append_bands_store(docs.where(F.col("doc_id") % 2 == 1), path)
        return store_neardup_pairs(spark, path)

    return _from_store(spark, sf_dir, _PAIRS_SCHEMA, steps)


@query(
    "dedup_lsh_store_compact",
    sql=mh.est_sql(),
    tags=("dedup", "neardup", "lsh", "storage", "compaction"),
)
def dedup_lsh_store_compact(spark, sf_dir):
    """The complete LSH-index lifecycle under one driver hash: build
    from the even half → append the odd half with the stored family →
    COMPACT the small files the append left (`compact_bands_store` —
    one file per band and sig-bucket partition via `optimize_delta`,
    one Delta commit per table, sidecar untouched) → query. Compaction moves
    bytes, never semantics: the result must STILL equal
    `dedup_minhash_lsh` exactly; a compaction that dropped, duplicated,
    or mis-routed a single band row would break the hash. The
    near-dup-index twin of the Delta OPTIMIZE contract
    (`lake_compact_roundtrip`) and of `sim_ivfpq_store_compact`.
    """
    def steps(docs, path):
        write_bands_store(docs.where(F.col("doc_id") % 2 == 0), path)
        append_bands_store(docs.where(F.col("doc_id") % 2 == 1), path)
        stats = compact_bands_store(spark, path)
        if stats["files_after"] >= stats["files_before"]:
            raise RuntimeError(
                f"compaction did not reduce file count: {stats}"
            )  # the query exists to pin this property — fail loudly
        return store_neardup_pairs(spark, path)

    return _from_store(spark, sf_dir, _PAIRS_SCHEMA, steps)


@query(
    "dedup_lsh_store_judge",
    sql=mh.judge_sql("doc_id % 2 = 1", "doc_id % 2 = 0"),
    tags=("dedup", "neardup", "lsh", "storage"),
)
def dedup_lsh_store_judge(spark, sf_dir):
    """Batch-judging against the persisted index: the even-id half of
    the corpus is indexed ONCE (`io/lsh_store.py`), then the odd-id
    half arrives as a new batch and is judged purely from the store —
    map-side banding on the batch, (band, bucket) left-outer collision
    join against the skinny stored band rows, store signatures attached
    for the agreement estimate, one per-doc max → ``(doc_id, max_agree,
    kept)``. The oracle is IDENTICAL to `stream_neardup_replay`'s: the
    streaming path (in-plan corpus banding) and the store path (index
    read from disk) must produce the same verdicts row for row — the
    contract that lets an ingest pipeline switch between them freely.

    Scale shape: the batch pays one banding pass; the store side is 8
    skinny rows per indexed doc joined bucket-locally (shuffle or AQE
    broadcast — no hint, same rule as the streaming layer); verdict
    state is one (doc, max) pair per batch doc.
    """
    def steps(docs, path):
        write_bands_store(docs.where(F.col("doc_id") % 2 == 0), path)
        return store_judge_docs(spark, path, docs.where(F.col("doc_id") % 2 == 1))

    return _from_store(spark, sf_dir, "doc_id long, max_agree long, kept boolean", steps)


@query(
    "dedup_lsh_store_delta",
    sql=mh.est_sql("AND (c.doc_a % 2 = 1 OR c.doc_b % 2 = 1)"),
    tags=("dedup", "neardup", "lsh", "storage", "incremental"),
)
def dedup_lsh_store_delta(spark, sf_dir):
    """Incremental pair maintenance under the driver hash: the even-id
    corpus is indexed once, then the odd-id batch arrives and
    `io/lsh_store.py::store_delta_pairs` emits ONLY the pairs touching
    the batch (batch×store collisions + batch-internal collisions) —
    the rows that, unioned with the store's bootstrap pairs, equal the
    full-corpus `dedup_minhash_lsh` result exactly (that identity is
    pinned by pytest; the oracle here replays the delta rows alone via
    the canonical est-SQL restricted to odd-touching pairs).

    This is the steady-state shape for a 100 TB duplicate-pair table:
    the corpus self-join runs once as bootstrap; every ingest batch
    pays O(batch band rows + collisions) — collision join over skinny
    band rows first, distinct candidates, one signature attach — and
    appends its delta rows. Nothing ever recomputes the store's own
    self-join.
    """
    def steps(docs, path):
        write_bands_store(docs.where(F.col("doc_id") % 2 == 0), path)
        return store_delta_pairs(spark, path, docs.where(F.col("doc_id") % 2 == 1))

    return _from_store(spark, sf_dir, _PAIRS_SCHEMA, steps)
