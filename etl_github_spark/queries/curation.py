"""Dataset-construction operators: deterministic sampling, source
mixing, and corpus-statistics term scoring.

These are the knobs a training-data pipeline turns after cleaning:
sample a stratum reproducibly, up-weight scarce sources to hit a target
mixture, and surface per-language distinguishing terms for inspection.
All pure DataFrame ops, all oracle-checked. Registered after the
driver's verification window (see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..session import local_frame
from .. import minhash as mh
from ._util import T, par
from .registry import query


@query(
    "curate_sample_stratified",
    sql="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(text), 1, 4) < '4000'
    """,
    tags=("curation", "sampling"),
)
def curate_sample_stratified(spark, sf_dir):
    """Deterministic ~25% content-hash sample (md5 16-bit prefix
    < 0x4000).

    Hash-of-content sampling beats rand(): the same document is sampled
    identically across runs, engines, and re-partitions — reproducible
    experiment subsets with no seed plumbing, and exact duplicates land
    on the same side (no train/eval leakage through the sample
    boundary). Per-row predicate, pushes to the scan, no shuffle. Rate
    granularity is 1/65536 per hex-prefix step.
    """
    return (
        T(spark, sf_dir, "documents")
        .where(F.substring(F.md5("text"), 1, 4) < "4000")
        .select("doc_id", "lang", "source")
    )


@query(
    "curate_source_mixing",
    sql="""
    SELECT d.doc_id, d.source, CAST(r.i AS INTEGER) AS copy_id
    FROM documents d, range(0, 3) r(i)
    WHERE r.i < CASE d.source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END
    """,
    tags=("curation", "mixing"),
)
def curate_source_mixing(spark, sf_dir):
    """Weighted source mixing: replicate each document per its source's
    target weight (src0 3×, src1 2×, rest 1×) — the upsampling step
    that hits a data-mixture recipe when one source is scarce.

    `explode(sequence(0, w-1))` is a per-row fan-out with no shuffle;
    the copy_id makes replicas distinguishable downstream (e.g. for
    epoch-aware shuffling). At 100 TB weights come from a broadcast
    recipe table instead of a literal CASE — same plan.
    """
    w = (
        F.when(F.col("source") == "src0", 3)
        .when(F.col("source") == "src1", 2)
        .otherwise(1)
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), w - 1)).alias("copy_id"),
    )


@query(
    "curate_tfidf_top_terms",
    sql="""
    WITH tok AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY lang, term),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    scored AS (
      SELECT tf.lang, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * n.n / df.df AS score
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT lang, term, tf, df, score,
             row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT lang, term, tf, df, score, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
    tags=("curation", "text", "tfidf"),
)
def curate_tfidf_top_terms(spark, sf_dir):
    """Top-3 distinguishing terms per language by a tf·N/df score —
    tf-idf's ranking without the log (ln is libm-dependent and would
    break cross-engine bit-equality; tf·N/df orders identically to
    tf·(N/df) for fixed tf and preserves the idf monotonicity).

    Score arithmetic is one exact int product then a single IEEE
    division — engine-identical. Shape: tokenize once, two partial+final
    aggs (shuffle = |lang×vocab| and |vocab|), broadcast vocabulary df
    join, window top-k per lang. Corpus size N is a 1-row broadcast.
    """
    d = T(spark, sf_dir, "documents")
    tok = d.select("lang", "doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "term",
            "tf",
            "df",
            (F.col("tf").cast("double") * F.col("n") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("lang", "term", "tf", "df", "score", "rk")
    )


@query(
    "curate_decontaminate",
    sql="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM tok WHERE len(toks) >= 3
    ),
    eval_sh AS (
      SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE doc_id < 10
    ),
    train_ex AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh WHERE doc_id >= 10
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(count(*) AS DOUBLE) / any_value(t.n_sh) AS overlap_frac
    FROM train_ex t JOIN eval_sh e ON t.sh = e.sh
    GROUP BY t.doc_id
    HAVING CAST(count(*) AS DOUBLE) / any_value(t.n_sh) >= 0.05
    """,
    tags=("curation", "decontamination"),
)
def curate_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs whose trigram
    shingles overlap an eval set (here: doc_id < 10 stands in for the
    held-out benchmark) above a 5% fraction — the step that keeps eval
    questions out of the training corpus. Distinct from dedup: the
    comparison is one-sided against a SMALL fixed set, so the eval
    shingle list broadcasts and the check is a map-side join over the
    corpus scan, O(corpus) at any eval-set size that fits a broadcast.

    Shingles are xxhash64-compressed on the Spark side (the oracle
    joins the strings; counts agree short of a 64-bit collision —
    same contract as dedup_jaccard_pairs).
    """
    from .dedup import _hashed_shingles

    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", mh.words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", _hashed_shingles(F.col("w")).alias("hs"))
    )
    eval_sh = (
        d.where(F.col("doc_id") < 10)
        .select(F.explode("hs").alias("sh"))
        .distinct()
    )
    train = d.where(F.col("doc_id") >= 10).select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("sh")
    )
    hits = (
        train.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"), F.first("n_sh").alias("n_sh"))
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_sh")
    return hits.select(
        "doc_id", "n_overlap", frac.alias("overlap_frac")
    ).where(frac >= 0.05)


@query(
    "curate_length_outliers",
    sql="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM documents
    )
    SELECT doc_id, n_chars, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk * 100 <= n
    """,
    tags=("curation", "outliers"),
)
def curate_length_outliers(spark, sf_dir):
    """The top-1% longest documents — the rank-based outlier cut a
    cleaning pipeline applies before length-sensitive stages.

    Rank thresholds beat percentile-interpolation thresholds for
    engine parity (pure integer comparison, no interpolation
    arithmetic) and for scale: k = N/100 comes from a metadata-cheap
    count, and the selection is then a top-k
    (TakeOrderedAndProject — per-partition heaps, no global sort).
    The tiny window that numbers the k survivors runs on k rows only.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = d.count()  # scalar fetch, same class as the watermark read
    k = n // 100
    top = d.orderBy(F.desc("n_chars"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    return top.select(
        "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    )


@query(
    "curate_domain_cap",
    sql="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 20
    """,
    tags=("curation", "sampling"),
)
def curate_domain_cap(spark, sf_dir):
    """Per-source document cap (keep ≤ 20 docs per source) — the
    per-domain cap web-corpus pipelines apply so one crawl-heavy domain
    cannot dominate the training mixture.

    Ordering by content hash (then doc_id) makes the kept subset a
    deterministic pseudo-random draw per source — stable across runs
    and engines, no seed state, and insensitive to input order. One
    window per source partition; at 100 TB this is a rank-filter over
    the (source)-shuffled scan, shuffle volume = |corpus| once.
    """
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 20)
    )


@query(
    "curate_sample_weighted",
    sql="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(text), 1, 4) <
          CASE lang WHEN 'en' THEN '8000' ELSE '2000' END
    """,
    tags=("curation", "sampling"),
)
def curate_sample_weighted(spark, sf_dir):
    """Per-stratum weighted sampling: each language keeps a different
    deterministic content-hash fraction (en 50%, others 12.5%) — the
    downsampling half of a mixture recipe (curate_source_mixing is the
    upsampling half). Same md5-prefix draw as curate_sample_stratified,
    so the keep-decision is reproducible across runs/engines and exact
    duplicates never straddle the boundary; the per-row predicate
    pipelines with the scan. At 100 TB the rate map is a broadcast
    recipe table instead of a literal CASE.
    """
    thresh = F.when(F.col("lang") == "en", "8000").otherwise("2000")
    return (
        T(spark, sf_dir, "documents")
        .where(F.substring(F.md5("text"), 1, 4) < thresh)
        .select("doc_id", "lang", "source")
    )


_DSIR_TGT = ("src1", "src2", "src3")  # the "target domain" sources

_DSIR_SQL = """
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    stats AS (
      SELECT word,
             sum(CASE WHEN source IN ('src1','src2','src3') THEN 1 ELSE 0 END) AS tgt,
             count(*) AS tot
      FROM tok GROUP BY word
    ),
    tot AS (
      SELECT sum(tgt) AS t_tot, sum(tot - tgt) AS r_tot, count(*) AS v
      FROM stats
    ),
    lift AS (
      SELECT word,
             CAST((tgt + 1) * (r_tot + v) AS DOUBLE)
               / CAST((tot - tgt + 1) * (t_tot + v) AS DOUBLE) AS lift
      FROM stats, tot
    ),
    per AS (
      SELECT t.doc_id, list_sort(list(l.lift)) AS ls, count(*) AS n
      FROM tok t JOIN lift l USING (word) GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           list_reduce(ls, (a, x) -> a + x) / n AS dsir_lift
    FROM per
    """


@query("curate_importance_weights", sql=_DSIR_SQL, tags=("curation", "sampling"))
def curate_importance_weights(spark, sf_dir):
    """DSIR-style data-selection importance score (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score each document by how much its unigram distribution looks like
    a target domain (sources src1-3) versus the raw rest, using
    add-one-smoothed per-word probability ratios. DSIR proper uses
    hashed-ngram log-likelihood ratios; this engine's cross-engine
    determinism rule forbids log() (last-ulp divergence between
    engines), so the score is the per-token mean probability *lift* —
    monotone-equivalent as a ranking signal within a document length
    class, and exactly reproducible: integer counts, exact integer
    products, one correctly-rounded division per word, and a sorted
    left-fold for the per-doc sum.

    Scale shape: word-stats agg is a partial-aggregated shuffle keyed
    on the word; the lift table (|vocab| rows) joins back to the token
    stream on the word key; the per-doc fold shuffles |docs| rows. No
    all-pairs anywhere; per-group state is bounded by document length.
    """
    tok = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("word"))
    )
    stats = tok.groupBy("word").agg(
        F.sum(
            F.when(F.col("source").isin(*_DSIR_TGT), 1).otherwise(0)
        ).alias("tgt"),
        F.count("*").alias("tot"),
    )
    totals = stats.agg(
        F.sum("tgt").alias("t_tot"),
        F.sum(F.col("tot") - F.col("tgt")).alias("r_tot"),
        F.count("*").alias("v"),
    )
    lift = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "word",
            (
                ((F.col("tgt") + 1) * (F.col("r_tot") + F.col("v"))).cast("double")
                / ((F.col("tot") - F.col("tgt") + 1) * (F.col("t_tot") + F.col("v"))).cast("double")
            ).alias("lift"),
        )
    )
    per = (
        tok.join(lift, "word")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("lift")).alias("ls"),
            F.count("*").alias("n"),
        )
    )
    fold = F.aggregate(F.col("ls"), F.lit(0.0), lambda a, x: a + x)
    return per.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (fold / F.col("n")).alias("dsir_lift"),
    )


_QUOTA = 15  # max docs kept per (lang, source) stratum

_QUOTA_SQL = f"""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {_QUOTA}
    """


@query("curate_sample_quota", sql=_QUOTA_SQL, tags=("curation", "sampling"))
def curate_sample_quota(spark, sf_dir):
    """Balanced dataset construction: keep at most {quota} documents
    per (lang, source) stratum, chosen by content-hash order — the
    exact-quota counterpart of the rate-based stratified sample
    (`curate_sample_stratified`). Hash order makes the draw
    reproducible across runs/engines/partitionings and independent of
    storage order; the doc_id tie-break handles exact-duplicate texts.

    Shape: one window keyed on the stratum — partial sort within each
    hash partition, no global sort; Spark plans a WindowGroupLimit
    (rank pushdown) so each partition retains only {quota} rows before
    the final filter. Strata counts are corpus-size-independent, so at
    100 TB the shuffle is the stratum repartition and nothing else.
    """
    w = Window.partitionBy("lang", "source").orderBy(F.md5("text"), "doc_id")
    return (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "text")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _QUOTA)
        .select("doc_id", "lang", "source")
    )


_DEDUP_AUDIT_SQL = """
    WITH g AS (
      SELECT source, md5(text) AS fp, count(*) AS copies
      FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(sum(copies) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(copies) - count(*) AS BIGINT) AS n_redundant,
           CAST(sum(copies) - count(*) AS DOUBLE) / sum(copies) AS dup_rate,
           CAST(max(copies) AS BIGINT) AS max_copies
    FROM g GROUP BY source
    """


@query("curate_dedup_audit", sql=_DEDUP_AUDIT_SQL, tags=("curation", "dedup", "audit"))
def curate_dedup_audit(spark, sf_dir):
    """Per-source exact-duplication audit: docs, unique texts, redundant
    copies, duplication rate, and the largest copy group — the report a
    curation team reads to decide WHERE dedup effort goes (a source
    with dup_rate 0.4 needs its scraper fixed, not more corpus-wide
    LSH).

    Shape: two stacked hash aggs — (source, text-fingerprint) partial
    + final, then per-source rollup of the tiny group table. Shuffle
    volume is |distinct (source, text)| via the md5 fingerprint (16
    bytes, not the document body). No joins.
    """
    g = (
        T(spark, sf_dir, "documents")
        .groupBy("source", F.md5("text").alias("fp"))
        .agg(F.count("*").alias("copies"))
    )
    red = F.sum("copies") - F.count("*")
    return g.groupBy("source").agg(
        F.sum("copies").alias("n_docs"),
        F.count("*").alias("n_unique"),
        red.alias("n_redundant"),
        (red.cast("double") / F.sum("copies")).alias("dup_rate"),
        F.max("copies").alias("max_copies"),
    )


_TOKEN_BUDGET = 2000  # tokens admitted per source

_BUDGET_SQL = f"""
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source
                                 ORDER BY md5(text), doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT doc_id, source, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents)
    )
    WHERE cum <= {_TOKEN_BUDGET}
    """


@query("curate_token_budget", sql=_BUDGET_SQL, tags=("curation", "sampling"))
def curate_token_budget(spark, sf_dir):
    """Token-budget selection: admit documents per source, in
    deterministic content-hash order, until the source's cumulative
    token count reaches the budget — how real dataset builders express
    "N tokens per source" (a count quota over variable-length docs
    overshoots; the running token sum is the actual contract).
    Boundary rule: a doc is admitted only if it fits entirely
    (cum <= budget).

    Shape: one projection for token counts, one per-source window
    cumulative sum in hash order (partial sort per partition, no
    global sort), one filter. The window is the same single shuffle a
    groupBy would need; hash order makes the admitted set independent
    of storage order and engine.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5("text"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


_BLOOM_BITS = 1 << 16   # 64 Kbit filter = 2048 x 32-bit words (8 KB)
_BLOOM_K = 4            # hash functions; fp ~1e-5 at ~1k eval shingles


def _bloom_affine():
    """Fixed (a_i, b_i) affine coefficients for the bloom positions —
    the same splitmix-derived md5 family the LSH recall pin uses, with
    its own seed so the two sketches are independent."""
    return mh.affine_coeffs(_BLOOM_K, seed=11)


def _bloom_sql() -> str:
    p, m = mh.MERSENNE_P, _BLOOM_BITS
    pos_list = ", ".join(
        f"(({a} * xm + {b}) % {p}) % {m}" for a, b in _bloom_affine()
    )
    return f"""
    WITH {mh.shingle_ids_cte()},
    flat AS (
      SELECT doc_id, n_sh, s, unnest([{pos_list}]) AS pos FROM xm
    ),
    filt AS (
      SELECT pos // 32 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
      FROM (SELECT DISTINCT pos FROM flat WHERE doc_id < 10)
      GROUP BY 1
    ),
    hit AS (
      SELECT f.doc_id, f.n_sh, f.s
      FROM flat f JOIN filt
        ON f.pos // 32 = filt.w
       AND (filt.mask & (CAST(1 AS BIGINT) << CAST(f.pos % 32 AS INT))) != 0
      WHERE f.doc_id >= 10
      GROUP BY f.doc_id, f.n_sh, f.s
      HAVING count(*) = {_BLOOM_K}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(count(*) AS DOUBLE) / any_value(n_sh) AS overlap_frac
    FROM hit
    GROUP BY doc_id
    HAVING CAST(count(*) AS DOUBLE) / any_value(n_sh) >= 0.05
    """


@query(
    "curate_decontaminate_bloom",
    sql=_bloom_sql(),
    tags=("curation", "decontamination", "sketch"),
)
def curate_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter benchmark decontamination — the sketch sibling of
    `curate_decontaminate`: the eval set's trigram shingles are folded
    into a 64 Kbit Bloom filter (2048-word literal, 8 KB), and the
    corpus probe becomes a PURE per-row fold — no join, no broadcast
    exchange, no shuffle at all on the corpus side. At 100 TB this is
    the shape that wins: the filter rides inside the task binary
    regardless of eval-set cardinality, where the exact variant must
    broadcast-hash-join every shingle.

    Trade-off: Bloom false positives can only OVER-count overlap
    (conservative for decontamination — a clean doc may be flagged at
    ~1e-5 per probe; a contaminated doc can never be missed). The
    oracle builds the IDENTICAL filter (md5-family shingle ids, fixed
    affine positions, 32-bit word packing — DuckDB errors on BIGINT
    1<<63, so words are 32-bit on both sides) and therefore matches
    hash-exactly, false positives included.
    """
    p = F.lit(mh.MERSENNE_P).cast("long")
    coeffs = _bloom_affine()

    d = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", mh.words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", mh.shingle_ids(F.col("w")).alias("xs"))
    )

    def positions(x):
        return [((F.lit(a) * x + F.lit(b)) % p) % F.lit(_BLOOM_BITS) for a, b in coeffs]

    # build: eval-doc positions -> driver-side 2048-word bit array
    # (DISTINCT positions of a handful of eval docs — index metadata,
    # same legitimacy class as the centroid collects)
    eval_pos = (
        d.where(F.col("doc_id") < 10)
        .select(F.explode("xs").alias("x"))
        .select(F.explode(F.array(*positions(F.col("x")))).alias("pos"))
        .distinct()
        .collect()
    )
    import numpy as np

    words = np.zeros(_BLOOM_BITS // 32, dtype=np.int64)
    for r in eval_pos:
        words[r["pos"] // 32] |= 1 << (r["pos"] % 32)

    # probe: one vectorized Arrow kernel — the column-expression
    # formulation (higher-order filter with 4 hashes + 2 array lookups
    # per shingle) ran ~10x slower because lambda bodies are
    # interpreted, the same lesson as assign_cells. Pure int64 numpy
    # arithmetic is bit-free of float concerns, so oracle parity is
    # unaffected. No join, no shuffle: the filter words ride in the
    # task closure.
    pp, mm = mh.MERSENNE_P, _BLOOM_BITS

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            lens = pdf["xs"].map(len).to_numpy()
            flat = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in pdf["xs"]]
            ) if lens.sum() else np.empty(0, dtype=np.int64)
            hit = np.ones(len(flat), dtype=bool)
            for a, b in coeffs:
                pos = ((a * flat + b) % pp) % mm
                hit &= (words[pos >> 5] >> (pos & 31)) & 1 != 0
            ends = np.cumsum(lens)
            starts = ends - lens
            n_overlap = np.array(
                [hit[s:e].sum() for s, e in zip(starts, ends)], dtype=np.int64
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_sh": lens, "n_overlap": n_overlap}
            )

    probe = (
        d.where(F.col("doc_id") >= 10)
        .select("doc_id", "xs")
        .mapInPandas(run, schema="doc_id long, n_sh long, n_overlap long")
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_sh")
    return probe.select(
        "doc_id", "n_overlap", frac.alias("overlap_frac")
    ).where(frac >= 0.05)


_MIX_TEMP_SQL = """
    WITH cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    tot AS (
      SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source),
                         (a, b) -> a + b) AS s,
             CAST(sum(n) AS BIGINT) // 2 AS budget
      FROM cnt
    ),
    tgt AS (
      SELECT source,
             CAST(floor(budget * sqrt(CAST(n AS DOUBLE)) / s) AS BIGINT) AS target
      FROM cnt, tot
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN tgt USING (source)
    WHERE rn <= target
    """


@query("curate_mix_temperature", sql=_MIX_TEMP_SQL, tags=("curation", "sampling"))
def curate_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing (alpha = 1/2): per-source quotas
    proportional to n_i^alpha instead of n_i — the standard rebalance
    that up-weights scarce sources without flattening the mixture
    entirely (alpha=1 keeps natural proportions, alpha=0 is uniform;
    sqrt is the common middle). Budget = half the corpus; selection
    within a source is content-hash order, so the sample is
    reproducible across runs and engines.

    Determinism: sqrt is a correctly-rounded IEEE op (same result in
    Python, Spark, DuckDB); the normalizer folds the per-source sqrt
    terms in source order on both sides; quota arithmetic is
    bigint*double -> floor. Per-source counts collect to the driver —
    |sources| rows of index metadata — and come back as a broadcast
    quota table; the corpus-side work is one window rank per source.
    """
    import math

    d = T(spark, sf_dir, "documents")
    cnt = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    s = 0.0
    for src in sorted(cnt):
        s += math.sqrt(float(cnt[src]))
    budget = sum(cnt.values()) // 2
    tgt = [
        (src, int(math.floor(budget * math.sqrt(float(n)) / s)))
        for src, n in cnt.items()
    ]
    tgt_df = local_frame(d.sparkSession, tgt, "source string, target long")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("doc_id", "source", "text")
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(tgt_df), "source")
        .where(F.col("rn") <= F.col("target"))
        .select("doc_id", "source")
    )


_STAGES = 8  # curriculum stages (easy → hard)


@query(
    "curate_curriculum_stages",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dfreq AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY tok
    ),
    diff AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(df) AS BIGINT) AS sum_df
      FROM toks t JOIN dfreq USING (tok)
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             CAST(row_number() OVER (
               ORDER BY CAST(sum_df AS DOUBLE) / n_tokens DESC, doc_id
             ) AS BIGINT) AS rank,
             CAST(count(*) OVER () AS BIGINT) AS n_docs
      FROM diff
    )
    SELECT doc_id, n_tokens, rank,
           CAST(least((({_STAGES} * (rank - 1)) // n_docs) + 1, {_STAGES})
                AS INTEGER) AS stage
    FROM ranked
    """,
    tags=("curation", "training-prep"),
)
def curate_curriculum_stages(spark, sf_dir):
    """Curriculum-learning schedule: rank documents easy → hard by mean
    token document-frequency (docs made of corpus-common tokens first,
    rare-token docs last) and cut the ranking into 8 equal training
    stages — the ordering a curriculum schedule feeds to the data
    loader stage by stage.

    Difficulty is the exact rational sum_df/n_tokens (single double
    division of exact BIGINTs; ties broken by doc_id), so the ranking
    is engine-deterministic. Stage assignment is pure integer
    arithmetic on the rank. The global row_number is one row per doc —
    at 100 TB swap it for `approx_percentile` stage cutoffs broadcast
    from a 1-row aggregate, exactly as the perplexity deciles document;
    the df table itself is vocab-sized and broadcasts.
    """
    toks = (
        par(T(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=False)
    )
    dfreq = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    diff = (
        toks.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    w = Window.orderBy(
        (F.col("sum_df").cast("double") / F.col("n_tokens")).desc(), "doc_id"
    )
    ranked = diff.select(
        "doc_id",
        "n_tokens",
        F.row_number().over(w).cast("long").alias("rank"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n_docs"),
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "rank",
        F.least(
            F.expr(f"(({_STAGES} * (rank - 1)) div n_docs) + 1"),
            F.lit(_STAGES),
        )
        .cast("int")
        .alias("stage"),
    )


_SPLIT_LEAK_SQL = """
    WITH d AS (
      SELECT doc_id, lang,
             CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b'
                  THEN 'train' ELSE 'val' END AS split,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, split,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 6),
               i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] || ' '
                 || toks[CAST(i + 2 AS INT)] || ' ' || toks[CAST(i + 3 AS INT)] || ' '
                 || toks[CAST(i + 4 AS INT)] || ' ' || toks[CAST(i + 5 AS INT)] || ' '
                 || toks[CAST(i + 6 AS INT)] || ' ' || toks[CAST(i + 7 AS INT)]
             ))) AS sh
      FROM d WHERE len(toks) >= 8
    ),
    train_sh AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
    val_docs AS (
      SELECT doc_id, lang, count(*) AS n_sh,
             count(*) FILTER (WHERE sh IN (SELECT sh FROM train_sh)) AS n_hit
      FROM sh WHERE split = 'val' GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_val_docs,
           CAST(count(*) FILTER (WHERE n_hit > 0) AS BIGINT) AS n_contaminated,
           CAST(sum(n_hit) AS BIGINT) AS n_leaked_shingles,
           CAST(sum(n_sh) AS BIGINT) AS n_val_shingles
    FROM val_docs GROUP BY lang
    """


@query(
    "curate_split_leakage",
    sql=_SPLIT_LEAK_SQL,
    tags=("curation", "dedup", "contamination", "training-prep"),
)
def curate_split_leakage(spark, sf_dir):
    """Cross-split contamination audit — the check every training run
    owes its eval numbers: after the deterministic content-hash
    train/val split (`text_train_val_split`'s md5-nibble rule), count
    the val documents sharing any 8-gram with ANY train document (the
    n-gram decontamination rule of GPT-3/PaLM appendixes, applied
    between a pipeline's OWN splits rather than against an external
    benchmark — near-dups straddling the split boundary are the
    leading cause of inflated validation scores). Reports, per
    language: val docs, contaminated val docs, leaked/total distinct
    val 8-grams.

    Shape: shingle both splits in one pass (zip-of-slices, no UDF),
    dedup (shingle, doc), then a LEFT-SEMI join of val shingles
    against distinct train shingles — banded-bucket join, no
    all-pairs. At 100 TB the distinct-train-shingle side is the big
    term: it partitions by shingle hash and the semi-join stays
    shuffle-balanced; the repo's MinHash family is the cheaper
    screen when exact n-gram evidence isn't required.
    """
    d = (
        par(T(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            "lang",
            F.when(
                F.substring(F.md5("text"), 1, 1).between("0", "b"), "train"
            )
            .otherwise("val")
            .alias("split"),
            F.split("text", " ").alias("w"),
        )
        .where(F.size("w") >= 8)
    )
    sh = d.select(
        "doc_id",
        "lang",
        "split",
        F.explode(mh.shingle_strings(F.col("w"), n=8)).alias("sh"),
    )
    sh = sh.localCheckpoint(eager=False)
    train_sh = sh.where(F.col("split") == "train").select("sh").distinct()
    val_sh = sh.where(F.col("split") == "val")
    hits = val_sh.join(train_sh, "sh", "left_semi")
    per_doc = (
        val_sh.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_sh"))
        .join(
            hits.groupBy("doc_id").agg(F.count("*").alias("n_hit")),
            "doc_id",
            "left",
        )
        .na.fill({"n_hit": 0})
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_val_docs"),
        F.sum((F.col("n_hit") > 0).cast("long")).cast("long").alias("n_contaminated"),
        F.sum("n_hit").cast("long").alias("n_leaked_shingles"),
        F.sum("n_sh").cast("long").alias("n_val_shingles"),
    )


_SHARD_SQL = """
    SELECT substr(md5(text), 1, 1) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(doc_id) AS BIGINT) AS membership_pin
    FROM documents GROUP BY shard
    """


@query("curate_shard_assignment", sql=_SHARD_SQL, tags=("curate", "shards"))
def curate_shard_assignment(spark, sf_dir):
    """Deterministic training-shard assignment: every doc lands in one
    of 16 shards keyed by the first hex digit of md5(text) — the
    content-keyed "global shuffle" a training pipeline needs before
    writing tokenized shards. Content hashing (vs random or
    row-number assignment) is rerun-stable, join-free, order-free,
    and independent of input partitioning, so a backfill and an
    incremental run place the same doc in the same shard; it also
    uniformly mixes sources/time within each shard, which is the
    point of the pre-training shuffle. The output is the shard
    BALANCE AUDIT (doc/token/char counts per shard) plus a
    membership pin (sum of doc_ids) so the driver hash certifies the
    exact assignment, not just the sizes.

    Shape: one scan, one 16-group partial+final agg — shuffle volume
    is 16 rows regardless of corpus size. The actual shard WRITE at
    scale is `df.withColumn(shard).repartition(shard).write
    .partitionBy(shard)` on the same key; md5's avalanche keeps the
    16 output files within ~1/√(n/16) of equal size (the audit
    verifies exactly that).
    """
    d = par(T(spark, sf_dir, "documents"))
    return d.groupBy(
        F.substring(F.md5("text"), 1, 1).alias("shard")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("doc_id").alias("membership_pin"),
    )


@query(
    "curate_pareto_fronts",
    sql="""
    WITH uh AS (
      SELECT source, md5(text) AS h,
             CAST(count(*) AS BIGINT) AS copies,
             CAST(min(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source, md5(text)
    ),
    s AS (
      SELECT source,
             CAST(sum(copies) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS uniq_docs,
             CAST(sum(chars) AS BIGINT) AS uniq_chars,
             CAST((sum(copies) - count(*)) * 1000000 // sum(copies) AS BIGINT)
               AS dup_ppm
      FROM uh GROUP BY source
    )
    SELECT a.source, a.n_docs, a.uniq_docs, a.uniq_chars, a.dup_ppm,
           CAST(count(b.source) AS BIGINT) AS dominated_by,
           count(b.source) = 0 AS on_front
    FROM s a
    LEFT JOIN s b
      ON b.uniq_chars >= a.uniq_chars AND b.dup_ppm <= a.dup_ppm
     AND (b.uniq_chars > a.uniq_chars OR b.dup_ppm < a.dup_ppm)
    GROUP BY a.source, a.n_docs, a.uniq_docs, a.uniq_chars, a.dup_ppm
    """,
    tags=("curation", "selection"),
)
def curate_pareto_fronts(spark, sf_dir):
    """Pareto-front source selection — score every source on two
    pulling-apart objectives (unique-content mass ↑, exact-dup rate ↓)
    and mark the non-dominated set. A source is dominated when another
    source is at least as good on both axes and strictly better on one;
    `on_front` sources are the efficient frontier a data-mixing pass
    should draw from first, and `dominated_by` grades how far inside
    the frontier the rest sit. Complements `curate_source_mixing`
    (which assumes the source list is already chosen) with the
    choosing step itself.

    Scale shape: one corpus-sized groupBy((source, content-hash)) —
    the same shuffle exact dedup pays — reduces to a CATALOG-sized
    per-source frame (|sources| rows); the dominance pass is a
    broadcast self-join on that tiny frame, O(|sources|²) on metadata,
    never on the corpus. All-integer objectives, so "strictly better"
    can never be a float-epsilon judgement call.
    """
    d = T(spark, sf_dir, "documents")
    uh = d.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").cast("long").alias("copies"),
        F.min("n_chars").cast("long").alias("chars"),
    )
    s = uh.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("uniq_docs"),
        F.sum("chars").cast("long").alias("uniq_chars"),
        F.expr(
            "CAST((sum(copies) - count(*)) * 1000000 div sum(copies) AS BIGINT)"
        ).alias("dup_ppm"),
    )
    a = s.alias("a")
    b = s.alias("b")
    dom = (
        (F.col("b.uniq_chars") >= F.col("a.uniq_chars"))
        & (F.col("b.dup_ppm") <= F.col("a.dup_ppm"))
        & (
            (F.col("b.uniq_chars") > F.col("a.uniq_chars"))
            | (F.col("b.dup_ppm") < F.col("a.dup_ppm"))
        )
    )
    return (
        a.join(F.broadcast(b), dom, "left")
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.n_docs").alias("n_docs"),
            F.col("a.uniq_docs").alias("uniq_docs"),
            F.col("a.uniq_chars").alias("uniq_chars"),
            F.col("a.dup_ppm").alias("dup_ppm"),
        )
        .agg(F.count(F.col("b.source")).cast("long").alias("dominated_by"))
        .withColumn("on_front", F.col("dominated_by") == 0)
    )


@query(
    "curate_dataset_card",
    sql="""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
             CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en
      FROM documents
    )
    SELECT n_docs, n_langs, n_sources, n_tokens, n_chars_total,
           CAST((n_docs - n_unique_texts) * 1000 // n_docs AS BIGINT)
             AS exact_dup_permille,
           CAST(n_en * 1000 // n_docs AS BIGINT) AS en_permille,
           CAST(n_chars_total // n_docs AS BIGINT) AS mean_chars_per_doc,
           CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens_per_doc
    FROM base
    """,
    tags=("curation", "datasheet", "audit"),
)
def curate_dataset_card(spark, sf_dir):
    """The dataset card (Datasheets-for-Datasets style) a training run
    logs next to every corpus snapshot: size, language/source breadth,
    token and char volume, exact-duplicate rate, English share, and
    per-doc means — ONE row, every number exact, cheap enough to run
    on each refresh. The capstone view over the audit family: each
    headline here has a deeper drill-down op (dup rate →
    `dedup_summary`, language mix → `stat_chi2_lang_source`/
    `stat_mutual_information`, length shape →
    `quality_length_histogram`).

    Exactness: all counts/sums are int64 from one corpus scan (the
    token count is the same whitespace split every text op uses); the
    distinct-text dup check is the standard exact-dedup shuffle; the
    permille/mean columns are INTEGER division (Spark `div` ≡ DuckDB
    `//`). Scale shape: one scan carrying two distinct aggregations
    (text, and the tiny lang/source domains) — the same plan class as
    `dedup_exact_distinct`.
    """
    d = T(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("text").cast("long").alias("n_unique_texts"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("n_en"),
    )
    return base.select(
        "n_docs",
        "n_langs",
        "n_sources",
        "n_tokens",
        "n_chars_total",
        F.expr("(n_docs - n_unique_texts) * 1000 div n_docs")
        .cast("long")
        .alias("exact_dup_permille"),
        F.expr("n_en * 1000 div n_docs").cast("long").alias("en_permille"),
        F.expr("n_chars_total div n_docs").cast("long").alias("mean_chars_per_doc"),
        F.expr("n_tokens div n_docs").cast("long").alias("mean_tokens_per_doc"),
    )
