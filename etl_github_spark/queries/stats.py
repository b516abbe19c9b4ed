"""Grouped statistical modeling: per-group OLS fit, two execution
strategies.

``stat_ols_slope_per_lang`` computes a least-squares line per language
from INTEGER moment sums (n, Σx, Σy, Σxy, Σx²) — every aggregation is
exact int64, the slope/intercept are formed by a handful of IEEE ops on
exactly-representable values, so the result is bit-identical across
engines and partitionings (oracle-checked). The same trick generalizes
to any moment-expressible statistic (variance, covariance, correlation).

``stat_ols_pandas_grouped`` fits the identical model with grouped-map
``applyInPandas`` — the API a user reaches for when the per-group logic
outgrows SQL (scipy fits, per-group models). Pinned equal to the moment
version in tests; the moments version remains the production path (one
partial+final agg, no Python, no group materialization).

Scale note: raw moments of an unbounded x overflow int64 around
x ~ 3e9; at that scale center x per group first (two-pass) or switch the
moment sums to DECIMAL — the fixture doc_id domain is far below the
bound (asserted in pytest).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import local_frame
from ._util import T, davg, davg_sql, par
from .registry import query

_MOMENTS_SQL = """
WITH m AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doc_id) AS BIGINT) AS sx,
         CAST(sum(n_chars) AS BIGINT) AS sy,
         CAST(sum(doc_id * n_chars) AS BIGINT) AS sxy,
         CAST(sum(doc_id * doc_id) AS BIGINT) AS sxx
  FROM documents GROUP BY lang
)
SELECT lang, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx
       ) / n AS intercept
FROM m
"""


@query("stat_ols_slope_per_lang", sql=_MOMENTS_SQL, tags=("stats", "regression"))
def stat_ols_slope_per_lang(spark, sf_dir):
    """Per-language OLS fit of n_chars against doc_id (does document
    length drift across crawl order?) via exact integer moments.

    One partial+final aggregation — shuffle volume is |langs| rows of
    five int64s; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) formed on the
    driver-free reduced values. No window, no sort, no Python.
    """
    d = T(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sx"),
        F.sum("n_chars").alias("sy"),
        F.sum(F.col("doc_id") * F.col("n_chars")).alias("sxy"),
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return m.select("lang", "n", slope.alias("slope"), intercept.alias("intercept"))


@query("stat_ols_pandas_grouped", sql=_MOMENTS_SQL, tags=("stats", "regression", "pandas"))
def stat_ols_pandas_grouped(spark, sf_dir):
    """The same per-language OLS via grouped-map ``applyInPandas`` —
    each language's rows arrive as one pandas frame; int64 moment sums
    inside the kernel keep it bit-equal to the aggregate version
    (pinned in tests), so it shares the moments ORACLE verbatim: the
    kernel's ``float(int)/float(int)`` is the same correctly-rounded
    int64→double conversion + one IEEE divide the SQL formula performs.

    Grouped-map semantics: a full shuffle on the group key and the
    whole group materialized per task — the right tool when per-group
    logic needs a real library (scipy/sklearn), the wrong one when a
    moment aggregation suffices. At 100 TB guard group sizes (a hot
    group must fit one task's memory); here groups are |lang| ≈ 5.
    """
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["doc_id"].to_numpy("int64")
        y = pdf["n_chars"].to_numpy("int64")
        n = len(pdf)
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx = int((x * y).sum()), int((x * x).sum())
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = (float(sy) - slope * sx) / n
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n": [n],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    d = T(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return d.groupBy("lang").applyInPandas(
        fit, schema="lang string, n long, slope double, intercept double"
    )


_CORR_SQL = """
WITH m AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doc_id) AS BIGINT) AS sx,
         CAST(sum(n_chars) AS BIGINT) AS sy,
         CAST(sum(doc_id * n_chars) AS BIGINT) AS sxy,
         CAST(sum(doc_id * doc_id) AS BIGINT) AS sxx,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS syy
  FROM documents GROUP BY lang
)
SELECT lang, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         AS pearson_r
FROM m
"""


@query("stat_corr_per_lang", sql=_CORR_SQL, tags=("stats", "correlation"))
def stat_corr_per_lang(spark, sf_dir):
    """Per-language Pearson correlation of (doc_id, n_chars) from the
    same exact integer moments as the OLS fit — the numerator and both
    variance terms are exact int64, so r is engine-identical (unlike
    the built-in ``corr()``, whose incremental float update is
    partitioning-dependent). Same one-aggregation plan.
    """
    d = T(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sx"),
        F.sum("n_chars").alias("sy"),
        F.sum(F.col("doc_id") * F.col("n_chars")).alias("sxy"),
        F.sum(F.col("doc_id") * F.col("doc_id")).alias("sxx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r = num / (F.sqrt(vx) * F.sqrt(vy))
    return m.select("lang", "n", r.alias("pearson_r"))


_SEP_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)

_SEPARATION_SQL = """
    SELECT a.label,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN {ab} / (sqrt({aa}) * sqrt({bb})) >= 0.2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
           CAST(sum(CASE WHEN {ab} / (sqrt({aa}) * sqrt({bb})) >= 0.2
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS frac_close
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    """.format(
    ab=_SEP_DOT.format(a="a.embedding", b="b.embedding"),
    aa=_SEP_DOT.format(a="a.embedding", b="a.embedding"),
    bb=_SEP_DOT.format(a="b.embedding", b="b.embedding"),
)


@query("stat_embedding_separation", sql=_SEPARATION_SQL, tags=("stats", "embedding"))
def stat_embedding_separation(spark, sf_dir):
    """Per-label embedding cohesion QA: of all intra-label vector
    pairs, how many are close (cos >= 0.2)? A label whose frac_close
    collapses toward the random-pair rate marks a noisy cluster /
    mislabeled slice — the check run before trusting labels for kNN
    voting or per-cell semantic pruning. Counts, not mean-cosine, so
    the statistic is exactly reproducible (a float mean over a shuffle
    is partition-order-dependent; a threshold count is not).

    Shape: cell-local equi-join on label (sum(|cell|^2) candidates,
    never corpus^2) feeding one partial+final count agg per label.
    """
    from .similarity import cosine

    emb = par(T(spark, sf_dir, "embeddings")).select("vec_id", "label", "embedding")
    a = emb.select("label", F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
    )
    close = (cosine(F.col("ea"), F.col("eb")) >= 0.2).cast("long")
    return (
        a.join(b, (F.col("label") == F.col("lb")) & (F.col("va") < F.col("vb")))
        .select("label", close.alias("c"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("c").alias("n_close"),
            (F.sum("c").cast("double") / F.count("*")).alias("frac_close"),
        )
    )


_CHI2_SQL = """
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS observed
      FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, sum(observed) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, sum(observed) AS ct FROM o GROUP BY source),
    n AS (SELECT sum(observed) AS n FROM o)
    SELECT o.lang, o.source, o.observed,
           CAST(r.rt * c.ct AS DOUBLE) / n.n AS expected,
           CAST((o.observed * n.n - r.rt * c.ct) * (o.observed * n.n - r.rt * c.ct)
                AS DOUBLE) / (r.rt * c.ct * n.n) AS contribution
    FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
    """


@query("stat_chi2_lang_source", sql=_CHI2_SQL, tags=("stats", "audit"))
def stat_chi2_lang_source(spark, sf_dir):
    """Chi-square independence cells for the (lang, source) contingency
    table — the corpus-audit test for "does language depend on source?"
    (a source that only contributes one language is a scraper quirk a
    mixing plan must know about). Emits per-cell observed, expected,
    and the chi-square contribution (O·N − r·c)²/(r·c·N): summing the
    contribution column gives the statistic, and leaving the sum to
    the consumer keeps the query free of ANY float reduction — each
    row is exact int64 products and one correctly-rounded division.
    Overflow bound: (O·N)² needs O·N below ~3e9 (same int64 envelope
    as the moment ops; promote to DECIMAL beyond).

    Shape: one (lang, source) count agg; row/col/N totals are tiny
    aggregates of the matrix, broadcast back onto it.
    """
    o = (
        par(T(spark, sf_dir, "documents"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("observed"))
    )
    r = o.groupBy("lang").agg(F.sum("observed").alias("rt"))
    c = o.groupBy("source").agg(F.sum("observed").alias("ct"))
    n = o.agg(F.sum("observed").alias("n"))
    dev = F.col("observed") * F.col("n") - F.col("rt") * F.col("ct")
    return (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "observed",
            ((F.col("rt") * F.col("ct")).cast("double") / F.col("n")).alias("expected"),
            (
                (dev * dev).cast("double")
                / (F.col("rt") * F.col("ct") * F.col("n"))
            ).alias("contribution"),
        )
    )


_GRAM_SQL = """
    WITH x AS (
      SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    pr AS (
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             CAST(round(e[CAST(i AS INT)] * e[CAST(j AS INT)] * 1e9) AS BIGINT) AS p
      FROM x, range(1, 65) a(i), range(1, 65) b(j)
    )
    SELECT i, j,
           CAST(sum(p) AS BIGINT) / (count(*) * 1e9) AS m2
    FROM pr
    GROUP BY i, j
    """


def _gram_partials(spark, sf_dir, dim: int = 64):
    """Per-partition integer Gram partials: each partition folds its
    rows into one dim×dim int64 accumulator (products scaled 1e9,
    HALF-AWAY rounded — matching both engines' round(); np.round is
    half-even and deliberately avoided) and emits (i, j, s, n). Partial
    sums commute, so the downstream merge is bit-exact under any
    partitioning — the all-reduce shape shared by the Gram query and
    the PCA power iteration."""
    import numpy as np
    import pandas as pd

    def partial_gram(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            for c in range(0, len(x), 256):
                chunk = x[c : c + 256]
                p = chunk[:, :, None] * chunk[:, None, :] * 1e9
                acc += (
                    (np.floor(np.abs(p) + 0.5) * np.sign(p))
                    .astype(np.int64)
                    .sum(axis=0)
                )
            n += len(x)
        if n == 0:
            return
        ii, jj = np.meshgrid(range(dim), range(dim), indexing="ij")
        yield pd.DataFrame(
            {
                "i": (ii + 1).ravel().astype("int32"),
                "j": (jj + 1).ravel().astype("int32"),
                "s": acc.ravel(),
                "n": np.full(dim * dim, n, dtype="int64"),
            }
        )

    return (
        par(T(spark, sf_dir, "embeddings"))
        .select("embedding")
        .mapInPandas(partial_gram, schema="i int, j int, s long, n long")
    )


@query("stat_embedding_gram", sql=_GRAM_SQL, tags=("stats", "embedding", "linalg"))
def stat_embedding_gram(spark, sf_dir):
    """Distributed Gram / second-moment matrix of the embedding corpus:
    m2[i,j] = mean(x_i·x_j) — the input to PCA (eigh of this 64x64
    matrix on the driver), whitening, and covariance-based drift
    monitors. The canonical all-reduce linear-algebra shape at 100 TB:
    each partition folds its rows into ONE 64x64 integer partial (an
    Arrow kernel pass, nothing leaves the executor but 4096 numbers),
    and the final aggregation sums partials — shuffle volume is
    4096 x n_partitions rows, independent of corpus size.

    Exactness: per-element products are rounded to scaled int64
    HALF-AWAY (matching both engines' round(); numpy's own np.round is
    half-EVEN and is deliberately avoided), so partial sums commute and
    the result is bit-identical across engines, partitionings, and
    batch sizes. |x| <= ~1 => |p| <= 1e9, exact for corpora to ~9e9
    rows; beyond that drop to 1e6 scaling (still 6 decimals) for 9e12.
    """
    partials = _gram_partials(spark, sf_dir)
    return partials.groupBy("i", "j").agg(
        (F.sum("s") / (F.sum("n") * F.lit(1e9))).alias("m2")
    )


_AC_MAX_LAG = 7


@query(
    "trend_autocorr_daily",
    sql=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(l.i AS INTEGER) AS lag, a.c AS x, b.c AS y
      FROM daily a
      CROSS JOIN range(1, {_AC_MAX_LAG + 1}) l(i)
      JOIN daily b ON b.day = a.day + CAST(l.i AS INTEGER)
    ),
    m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS autocorr_r
    FROM m
    """,
    tags=("trend", "stats", "timeseries"),
)
def trend_autocorr_daily(spark, sf_dir):
    """Lag-1..7 autocorrelation of the daily event-count series — the
    seasonality/burstiness diagnostic behind anomaly thresholds and
    capacity planning (a strong lag-7 says weekly cycle; a fast decay
    says noise). Pairs align day d with day d+k only where both exist,
    so calendar gaps shrink n_pairs instead of fabricating zeros.

    Same determinism recipe as `stat_corr_per_lang`: exact int64
    moments per lag (daily counts are integers), then one fixed-order
    double expression — sqrt is IEEE-correctly-rounded (unlike ln), so
    `autocorr_r` is bit-identical cross-engine. The series is DAYS-
    sized (tiny after the first aggregation), so the lag join costs
    nothing at any corpus scale; the only corpus-sized work is the
    daily count itself, which is map-side combinable.
    """
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        "day",
        F.col("c").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(_AC_MAX_LAG))).alias("lag"),
    )
    b = daily.select(F.col("day").alias("bday"), F.col("c").alias("y"))
    pairs = a.join(
        F.broadcast(b), F.date_add(F.col("day"), F.col("lag")) == F.col("bday")
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "lag",
        F.col("n").alias("n_pairs"),
        (num / (F.sqrt(vx) * F.sqrt(vy))).alias("autocorr_r"),
    )


@query(
    "stat_welch_ttest_sources",
    sql="""
    WITH m AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b,
           (CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n)
             / sqrt(
                 (CAST(a.n * a.s2 - a.s1 * a.s1 AS DOUBLE)
                    / (a.n * a.n * (a.n - 1)))
                 + (CAST(b.n * b.s2 - b.s1 * b.s1 AS DOUBLE)
                    / (b.n * b.n * (b.n - 1)))
               ) AS t_stat
    FROM m a JOIN m b ON a.source < b.source
    """,
    tags=("stats", "testing"),
)
def stat_welch_ttest_sources(spark, sf_dir):
    """Welch's t-statistic for mean document length between every pair
    of sources — the unequal-variance two-sample test a corpus audit
    runs before pooling sources ("is src3 systematically longer?").
    Consumers threshold |t| (e.g. ~2 for 5% two-sided at these df);
    the statistic itself, not a p-value, is emitted — p-values need
    the t CDF, which is neither SQL-native nor libm-stable.

    Determinism: per-source moments are exact int64; the t expression
    is a fixed-order chain of divisions and one sqrt — every operation
    IEEE-correctly-rounded, so the double matches bit-for-bit across
    engines (ln/exp never appear). The moment table is |sources| rows;
    the pair join is dimension-sized. Variance identity:
    s²/n = (n·Σx² − (Σx)²) / (n²(n−1)).
    """
    d = T(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    a = m.select(
        F.col("source").alias("source_a"),
        F.col("n").alias("n_a"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = m.select(
        F.col("source").alias("source_b"),
        F.col("n").alias("n_b"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    mean_diff = F.col("s1a").cast("double") / na - F.col("s1b").cast("double") / nb
    va = (na * F.col("s2a") - F.col("s1a") * F.col("s1a")).cast("double") / (
        na * na * (na - F.lit(1))
    )
    vb = (nb * F.col("s2b") - F.col("s1b") * F.col("s1b")).cast("double") / (
        nb * nb * (nb - F.lit(1))
    )
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            (mean_diff / F.sqrt(va + vb)).alias("t_stat"),
        )
    )


@query(
    "stat_mannwhitney_sources",
    sql="""
    WITH vc AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    comb AS (
      SELECT p.source_a, p.source_b, vc.v,
             CAST(sum(CASE WHEN vc.source = p.source_a THEN vc.c ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN vc.source = p.source_b THEN vc.c ELSE 0 END)
                  AS BIGINT) AS cb
      FROM pr p
      JOIN vc ON vc.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *,
             CAST(coalesce(sum(ca + cb) OVER (
               PARTITION BY source_a, source_b ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS c_lt
      FROM comb
    )
    SELECT source_a, source_b,
           CAST(sum(ca) AS BIGINT) AS n_a,
           CAST(sum(cb) AS BIGINT) AS n_b,
           CAST(sum(ca * (2 * c_lt + (ca + cb) + 1))
                - sum(ca) * (sum(ca) + 1) AS BIGINT) AS u2_a
    FROM ranked
    GROUP BY source_a, source_b
    """,
    tags=("stats", "testing"),
)
def stat_mannwhitney_sources(spark, sf_dir):
    """Mann-Whitney U between every source pair on document length —
    the non-parametric companion to `stat_welch_ttest_sources` (rank-
    based, so outlier-robust and distribution-free). Emits 2·U_a
    (``u2_a``): doubled midranks keep tie handling in EXACT integers
    (midrank = (lo+hi)/2 can be half-integral; 2·midrank = 2·c_lt +
    c_eq + 1 never is), so the statistic is bit-exact in any engine and
    any reduction order — zero floats anywhere. Consumers compare
    u2_a against 2·(n_a·n_b/2 ± z·σ_U).

    Shape: one (source, value) count aggregation (vocab-of-lengths
    sized), a 3-row source pair frame, and a per-pair running-sum
    window over distinct VALUES (not rows) — the corpus-sized scan
    happens exactly once.
    """
    d = T(spark, sf_dir, "documents")
    vc = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    srcs = d.select("source").distinct()
    pr = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
    )
    comb = (
        pr.join(
            F.broadcast(vc),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "v")
        .agg(
            F.sum(F.when(F.col("source") == F.col("source_a"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("source") == F.col("source_b"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    w = (
        Window.partitionBy("source_a", "source_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = comb.select(
        "*",
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0))
        .cast("long")
        .alias("c_lt"),
    )
    return ranked.groupBy("source_a", "source_b").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        (
            F.sum(
                F.col("ca")
                * (F.lit(2) * F.col("c_lt") + (F.col("ca") + F.col("cb")) + F.lit(1))
            )
            - F.sum("ca") * (F.sum("ca") + F.lit(1))
        )
        .cast("long")
        .alias("u2_a"),
    )


@query(
    "stat_ks_sources",
    sql="""
    WITH vc AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    comb AS (
      SELECT p.source_a, p.source_b, vc.v,
             CAST(sum(CASE WHEN vc.source = p.source_a THEN vc.c ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN vc.source = p.source_b THEN vc.c ELSE 0 END)
                  AS BIGINT) AS cb
      FROM pr p
      JOIN vc ON vc.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT *,
             CAST(sum(ca) OVER (
               PARTITION BY source_a, source_b ORDER BY v
             ) AS BIGINT) AS ca_cum,
             CAST(sum(cb) OVER (
               PARTITION BY source_a, source_b ORDER BY v
             ) AS BIGINT) AS cb_cum
      FROM comb
    ),
    tot AS (
      SELECT *,
             CAST(max(ca_cum) OVER (PARTITION BY source_a, source_b)
                  AS BIGINT) AS na,
             CAST(max(cb_cum) OVER (PARTITION BY source_a, source_b)
                  AS BIGINT) AS nb
      FROM cum
    )
    SELECT source_a, source_b,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(max(abs(ca_cum * nb - cb_cum * na)) AS BIGINT) AS d_scaled
    FROM tot
    GROUP BY source_a, source_b
    """,
    tags=("stats", "testing"),
)
def stat_ks_sources(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between every source
    pair on document length, as the exact integer
    ``d_scaled = max_v |F_a(v)·n_a·n_b − F_b(v)·n_a·n_b|``
    (the ECDF sup-distance scaled by n_a·n_b, so no division ever
    happens): the distribution-shift detector that catches shape
    differences mean/rank tests miss. Consumers compare d_scaled
    against c(α)·sqrt(n_a·n_b·(n_a+n_b)) — outside the query.

    Shape: identical scaffolding to the Mann-Whitney op — one (source,
    value) aggregation, a pair frame, cumulative sums over distinct
    VALUES per pair; the max-abs-difference is an exact int64 reduce.
    """
    d = T(spark, sf_dir, "documents")
    vc = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    srcs = d.select("source").distinct()
    pr = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
    )
    comb = (
        pr.join(
            F.broadcast(vc),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "v")
        .agg(
            F.sum(F.when(F.col("source") == F.col("source_a"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("source") == F.col("source_b"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    wcum = Window.partitionBy("source_a", "source_b").orderBy("v")
    wall = Window.partitionBy("source_a", "source_b")
    cum = comb.select(
        "source_a",
        "source_b",
        F.sum("ca").over(wcum).cast("long").alias("ca_cum"),
        F.sum("cb").over(wcum).cast("long").alias("cb_cum"),
    )
    scaled = cum.select(
        "source_a",
        "source_b",
        "ca_cum",
        "cb_cum",
        F.max("ca_cum").over(wall).alias("na"),
        F.max("cb_cum").over(wall).alias("nb"),
    )
    return scaled.groupBy("source_a", "source_b").agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(F.abs(F.col("ca_cum") * F.col("nb") - F.col("cb_cum") * F.col("na")))
        .cast("long")
        .alias("d_scaled"),
    )


@query(
    "trend_weekday_profile",
    sql="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS days
      FROM daily
    )
    SELECT CAST(isodow(day) AS INTEGER) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS n_events,
           (CAST(sum(c) AS DOUBLE) / count(*))
             / (CAST(max(tot.total) AS DOUBLE) / max(tot.days)) AS seasonal_idx
    FROM daily CROSS JOIN tot
    GROUP BY 1
    """,
    tags=("trend", "timeseries"),
)
def trend_weekday_profile(spark, sf_dir):
    """Day-of-week seasonal profile: mean daily event count per ISO
    weekday, normalized by the overall daily mean (`seasonal_idx` > 1 =
    busier-than-average weekday) — the decomposition companion to
    `trend_autocorr_daily`: autocorrelation DETECTS the weekly cycle,
    this measures its shape for capacity plans and seasonally-adjusted
    anomaly thresholds.

    Determinism: integer daily counts; seasonal_idx is a fixed chain of
    two exact-int divisions and one double division — no reductions in
    float, no transcendentals. The series is DAYS-sized after the first
    map-side-combinable aggregation.
    """
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("days"),
    )
    prof = (
        daily.join(F.broadcast(tot))
        .groupBy(F.dayofweek("day").alias("dow_sun1"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("n_events"),
            F.max("total").alias("total"),
            F.max("days").alias("days"),
        )
    )
    # Spark dayofweek: 1=Sunday; ISO dow: 1=Monday..7=Sunday
    iso = F.when(F.col("dow_sun1") == 1, 7).otherwise(F.col("dow_sun1") - 1)
    return prof.select(
        iso.cast("int").alias("weekday"),
        "n_days",
        "n_events",
        (
            (F.col("n_events").cast("double") / F.col("n_days"))
            / (F.col("total").cast("double") / F.col("days"))
        ).alias("seasonal_idx"),
    )


_DRIFT_Q = 10**6  # per-value quantization for exact centroid sums


@query(
    "stat_embedding_drift_split",
    sql=f"""
    WITH q AS (
      SELECT label,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND '7'
                  THEN 'a' ELSE 'b' END AS split,
             CAST(i AS INTEGER) AS dim,
             CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * {_DRIFT_Q})
                  AS BIGINT) AS qv
      FROM embeddings, range(1, 65) t(i)
    ),
    s AS (
      SELECT label, split, dim,
             CAST(sum(qv) AS BIGINT) AS sv,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2, 3
    ),
    j AS (
      SELECT a.label, a.dim, a.sv AS sa, b.sv AS sb,
             a.n AS n_a, b.n AS n_b
      FROM s a JOIN s b
        ON a.label = b.label AND a.dim = b.dim
       AND a.split = 'a' AND b.split = 'b'
    )
    SELECT label,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(sum(sa * sb) AS DOUBLE)
             / (sqrt(CAST(sum(sa * sa) AS DOUBLE))
                * sqrt(CAST(sum(sb * sb) AS DOUBLE))) AS drift_cos
    FROM j GROUP BY label
    """,
    tags=("stats", "embedding", "drift"),
)
def stat_embedding_drift_split(spark, sf_dir):
    """Embedding drift monitor: per label, the cosine between the
    centroids of two deterministic md5 halves of the corpus —
    drift_cos ≈ 1 says the label's embedding distribution is stable
    under resampling; a low value flags a label whose vectors are
    heterogeneous or whose upstream encoder shifted mid-corpus (run
    with time-based splits in production for before/after monitoring).

    Exactness: values quantize to 1e-6 per (row, dim); centroid sums
    are exact BIGINT; the cosine is formed from exact int64 dot
    products with two IEEE sqrt's — bit-identical cross-engine.
    Overflow envelope: |Σqv| ≤ rows·0.53e6 per (label,split,dim) keeps
    Σ(sa·sb) in int64 up to ~2.5k rows per group at this scale — shrink
    _DRIFT_Q (or promote to DECIMAL) for bigger groups. One posexplode
    scan, dims-sized aggregation, label-sized join.
    """
    emb = par(T(spark, sf_dir, "embeddings"))
    q = emb.select(
        "label",
        F.when(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).between(
                "0", "7"
            ),
            "a",
        )
        .otherwise("b")
        .alias("split"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "split",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("v").cast("double") * _DRIFT_Q).cast("long").alias("qv"),
    )
    s = q.groupBy("label", "split", "dim").agg(
        F.sum("qv").cast("long").alias("sv"), F.count("*").cast("long").alias("n")
    )
    a = s.where(F.col("split") == "a").select(
        "label", "dim", F.col("sv").alias("sa"), F.col("n").alias("n_a")
    )
    b = s.where(F.col("split") == "b").select(
        "label", "dim", F.col("sv").alias("sb"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            (
                F.sum(F.col("sa") * F.col("sb")).cast("double")
                / (
                    F.sqrt(F.sum(F.col("sa") * F.col("sa")).cast("double"))
                    * F.sqrt(F.sum(F.col("sb") * F.col("sb")).cast("double"))
                )
            ).alias("drift_cos"),
        )
    )


@query(
    "trend_cusum_changepoint",
    sql="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    cs AS (
      SELECT day, c,
             CAST(max(tot.n) OVER () * sum(c) OVER (ORDER BY day)
                  - row_number() OVER (ORDER BY day) * max(tot.total) OVER ()
               AS BIGINT) AS s_scaled
      FROM daily CROSS JOIN tot
    )
    SELECT day, c AS cnt, s_scaled,
           abs(s_scaled) = (SELECT max(abs(s_scaled)) FROM cs) AS is_changepoint
    FROM cs
    """,
    tags=("trend", "stats", "timeseries"),
)
def trend_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection on the daily event series: the
    scaled cumulative deviation S_t = n·Σ_{i≤t}c_i − t·total peaks
    exactly where the series' mean level shifts — the standard
    single-changepoint locator behind "when did volume regime-change?"
    alerts. Every day is emitted with its CUSUM value and a flag on the
    |S| maximum, so consumers get both the curve and the answer.

    Scaling by n (instead of subtracting the float mean per day) keeps
    the entire computation in exact int64 — bit-identical cross-engine,
    any reduction order. The cumulative window runs over the DAYS-sized
    frame; at 100 TB the only corpus-sized work is the first
    map-side-combinable daily count.
    """
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n"),
    )
    wcum = Window.orderBy("day")
    cs = (
        daily.join(F.broadcast(tot))
        .select(
            "day",
            "c",
            (
                F.col("n") * F.sum("c").over(wcum)
                - F.row_number().over(wcum) * F.col("total")
            )
            .cast("long")
            .alias("s_scaled"),
        )
        .localCheckpoint(eager=False)
    )
    peak = cs.agg(F.max(F.abs("s_scaled")).alias("peak"))
    return cs.join(F.broadcast(peak)).select(
        "day",
        F.col("c").alias("cnt"),
        "s_scaled",
        (F.abs("s_scaled") == F.col("peak")).alias("is_changepoint"),
    )


_PCA_ITERS = 5
_PCA_S = 1_000_000  # fixed-point scale of the iterated vector


def _pca_power_sql() -> str:
    head = f"""
    WITH x AS (
      SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings
    ),
    pr AS (
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             CAST(round(e[CAST(i AS INT)] * e[CAST(j AS INT)] * 1e9) AS BIGINT) AS p
      FROM x, range(1, 65) a(i), range(1, 65) b(j)
    ),
    g AS (
      SELECT i, j, CAST(sum(p) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM pr GROUP BY i, j
    ),
    a AS (SELECT i, j, s // n AS a FROM g),
    v0 AS (
      SELECT CAST(j AS INTEGER) AS j, CAST({_PCA_S} AS BIGINT) AS v
      FROM range(1, 65) t(j)
    )"""
    it = f""",
    w{{k}} AS (
      SELECT a.j AS j, CAST(sum(a.a * v.v) AS BIGINT) AS w
      FROM a JOIN v{{p}} v ON v.j = a.i GROUP BY a.j
    ),
    m{{k}} AS (SELECT greatest(max(abs(w)) // {_PCA_S}, 1) AS md FROM w{{k}}),
    v{{k}} AS (SELECT j, CAST(w // md AS BIGINT) AS v FROM w{{k}}, m{{k}})"""
    parts = [head]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(it.format(k=k, p=k - 1))
    parts.append(
        f"""
    SELECT v{_PCA_ITERS}.j AS dim_idx, v{_PCA_ITERS}.v AS v_q6,
           CAST(m{_PCA_ITERS}.md AS BIGINT) AS eig_scaled
    FROM v{_PCA_ITERS}, m{_PCA_ITERS}
    """
    )
    return "".join(parts)


@query(
    "stat_embedding_pca_power",
    sql=_pca_power_sql(),
    tags=("stats", "embedding", "linalg", "iterative"),
)
def stat_embedding_pca_power(spark, sf_dir):
    """Dominant principal direction of the embedding corpus by POWER
    ITERATION on the second-moment (Gram) matrix — the one-pass-
    distributed + tiny-driver-iteration split every large-scale PCA
    uses: the corpus is touched ONCE (per-partition int64 Gram
    partials, shuffle volume 64×64×n_partitions), then 5 matrix-vector
    rounds run on the 64×64 driver-side matrix — index metadata, same
    legitimacy class as the k-means codebook collect
    (`scale_paths.py::lloyd_fit`).

    Integer fixed-point contract: A = S_gram div n (scaled 1e9), v₀ =
    1e6·𝟙, each round w = A·v; v' = w div max(|w| div 1e6, 1) — every
    op int64 with truncating division, so Spark, Python, and DuckDB
    replay bit-identically (DuckDB's `//` truncates toward zero for
    integers, matching Spark `div`; verified, not assumed). Bounds:
    |A|≤1e9, |v|≲2e6, 64·|A·v| ≤ 1.3e17 < int64. Output is the scaled
    eigenvector plus the scaled dominant-eigenvalue estimate (the last
    normalizer) — convergence rate is data-dependent, but parity holds
    at ANY iteration count because the oracle replays the same rounds.
    """

    def tdiv(x: int, d: int) -> int:  # truncation toward zero, d > 0
        return -((-x) // d) if x < 0 else x // d

    g = _gram_partials(spark, sf_dir).groupBy("i", "j").agg(
        F.sum("s").cast("long").alias("s"), F.sum("n").cast("long").alias("n")
    )
    rows = g.collect()  # 64×64 matrix — driver-side index metadata
    dim = 64
    A = [[0] * dim for _ in range(dim)]
    for r in rows:
        A[r["i"] - 1][r["j"] - 1] = tdiv(int(r["s"]), int(r["n"]))
    v = [_PCA_S] * dim
    md = 1
    for _ in range(_PCA_ITERS):
        w = [sum(A[i][j] * v[i] for i in range(dim)) for j in range(dim)]
        md = max(max(abs(x) for x in w) // _PCA_S, 1)
        v = [tdiv(x, md) for x in w]
    out = [(j + 1, v[j], md) for j in range(dim)]
    return local_frame(spark, out, "dim_idx int, v_q6 long, eig_scaled long")


@query(
    "stat_winsorized_mean",
    sql="""
    WITH w AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    cut AS (
      SELECT lang,
             max(CASE WHEN rn = (n - 1) * 10 // 100 + 1 THEN n_chars END) AS lo,
             max(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN n_chars END) AS hi,
             CAST(max(n) AS BIGINT) AS n_docs
      FROM w GROUP BY lang
    )
    SELECT d.lang,
           CAST(c.lo AS BIGINT) AS lo,
           CAST(c.hi AS BIGINT) AS hi,
           c.n_docs,
           (CAST(sum(least(greatest(d.n_chars, c.lo), c.hi)) AS BIGINT)
              / count(*)) AS winsor_mean
    FROM documents d JOIN cut c ON d.lang = c.lang
    GROUP BY d.lang, c.lo, c.hi, c.n_docs
    """,
    tags=("stats", "robust"),
)
def stat_winsorized_mean(spark, sf_dir):
    """Winsorized mean of document length per language: clamp values to
    the rank-based [p10, p90] cutoffs, then average — the robust-moment
    alternative to dropping outliers (`curate_length_outliers` removes;
    winsorizing keeps the row but caps its leverage, the standard move
    for heavy-tailed quality metrics feeding downstream thresholds).

    Percentiles are RANK-based (value at row (n−1)·q div 100 + 1 under
    a total (n_chars, doc_id) order), not interpolated — engines
    interpolate differently, ranks they agree on. Shape: one window
    pass for cutoffs (per-lang partitions), broadcast of the lang-sized
    cutoff table back onto the scan, one integer aggregate; the mean is
    exact-int-sum / count, the registry's deterministic-division rule.
    """
    d = T(spark, sf_dir, "documents").select("lang", "n_chars", "doc_id")
    win = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    w = d.select(
        "lang",
        "n_chars",
        F.row_number().over(win).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    at = lambda q: F.expr(f"(n - 1) * {q} div 100 + 1")  # noqa: E731
    cut = w.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == at(10), F.col("n_chars"))).alias("lo"),
        F.max(F.when(F.col("rn") == at(90), F.col("n_chars"))).alias("hi"),
        F.max("n").cast("long").alias("n_docs"),
    )
    clamped = F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi"))
    return (
        d.join(F.broadcast(cut), "lang")
        .groupBy("lang", "lo", "hi", "n_docs")
        .agg((F.sum(clamped).cast("long") / F.count("*")).alias("winsor_mean"))
        .select(
            "lang",
            F.col("lo").cast("long").alias("lo"),
            F.col("hi").cast("long").alias("hi"),
            "n_docs",
            "winsor_mean",
        )
    )


@query(
    "stat_theil_sen_daily_trend",
    sql="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    r AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, xi, xj) AS rn,
             count(*) OVER () AS n
      FROM pairs
    ),
    ts AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN slope END) AS ts_slope,
                  CAST(max(n) AS BIGINT) AS n_pairs
           FROM r),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily
    )
    SELECT m.n AS n_days, ts.n_pairs, ts.ts_slope,
           CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
             / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) AS ols_slope
    FROM ts, m
    """,
    tags=("stats", "robust", "trend"),
)
def stat_theil_sen_daily_trend(spark, sf_dir):
    """Theil–Sen robust trend of daily event volume: the MEDIAN of all
    pairwise day-slopes, reported next to the OLS slope — the estimator
    that shrugs off the outlier days that drag least-squares around
    (29.3% breakdown point vs OLS's zero). The gap between the two
    slopes is itself the health signal: clean traffic ⇒ they agree.

    Determinism: each pairwise slope is ONE int64→double division
    (correctly rounded identically everywhere); the median is exact
    rank-based (lower median under a (slope, xi, xj) total order), so
    no float summation ever happens. Shape: the stream collapses to
    |days| rows, the pair join is days², and everything after is
    window-over-hundreds — the classic reduce-then-quadratic-on-tiny
    robust-stats shape (same family as `stat_mannwhitney_sources`).
    At a years-long horizon days² grows; the standard fix (bounded
    window or repeated-median variant) keeps the same plan skeleton.
    """
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(F.count("*").cast("long").alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        F.col("a.x").alias("xi"),
        F.col("b.x").alias("xj"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    r = pairs.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "xi", "xj")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ts = r.agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope"))).alias(
            "ts_slope"
        ),
        F.max("n").cast("long").alias("n_pairs"),
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    ols = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return (
        ts.join(F.broadcast(m))
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            "ts_slope",
            ols.alias("ols_slope"),
        )
    )


_BS_B = 32  # bootstrap resamples
#: Poisson(1) CDF cutoffs scaled to 1e6 — P(0)=.367879, P(<=1)=.735759,
#: P(<=2)=.919699, P(<=3)=.981012; multiplicities above 4 are folded
#: into 4 (P ≈ 0.4%, bias negligible, keeps the CASE closed-form)
_BS_CUTS = (367879, 735759, 919699, 981012)

_BOOTSTRAP_SQL = f"""
    WITH d AS (
      SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    r AS (
      SELECT d.lang, t.b, d.x,
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)
                  || '#bs' || CAST(t.b AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1000000 AS u
      FROM d, generate_series(1, {_BS_B}) AS t(b)
    ),
    m AS (
      SELECT lang, b, x,
             CASE WHEN u < {_BS_CUTS[0]} THEN 0
                  WHEN u < {_BS_CUTS[1]} THEN 1
                  WHEN u < {_BS_CUTS[2]} THEN 2
                  WHEN u < {_BS_CUTS[3]} THEN 3
                  ELSE 4 END AS w
      FROM r
    ),
    rm AS (
      SELECT lang, b,
             1000 * sum(w * x) // sum(w) AS mean_pm
      FROM m GROUP BY lang, b HAVING sum(w) > 0
    ),
    ranked AS (
      SELECT lang, mean_pm,
             row_number() OVER (PARTITION BY lang ORDER BY mean_pm, b) AS rn
      FROM rm
    ),
    full_s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             1000 * sum(x) // count(*) AS mean_permille
      FROM d GROUP BY lang
    )
    SELECT f.lang, f.n_docs,
           CAST(f.mean_permille AS BIGINT) AS mean_permille,
           CAST(lo.mean_pm AS BIGINT) AS boot_lo_permille,
           CAST(hi.mean_pm AS BIGINT) AS boot_hi_permille
    FROM full_s f
    JOIN ranked lo ON lo.lang = f.lang AND lo.rn = 2
    JOIN ranked hi ON hi.lang = f.lang AND hi.rn = {_BS_B - 1}
    """


@query(
    "stat_bootstrap_ci",
    sql=_BOOTSTRAP_SQL,
    tags=("stat", "bootstrap", "resampling", "scale-path"),
)
def stat_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for the per-language mean document
    length — resampling statistics made DETERMINISTIC and single-pass:
    the classic n-with-replacement bootstrap needs global coordinated
    sampling, but the POISSON bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012) replaces it
    with an independent Poisson(1) multiplicity per (row, resample) —
    embarrassingly parallel, no shuffle beyond the group-by, and the
    100 TB form of "error bars on a metric". Randomness is the
    engine-portable md5 idiom hashed on (doc_id, resample), so both
    engines draw the SAME multiplicities; resample means ride exact
    integer permille (1000·Σwx DIV Σw), and the 93.75% CI picks ranks
    2 and 31 of the 32 ordered resample means (row_number with a (mean,
    b) tie-break — no percentile interpolation to diverge on).

    Shape: one fan-out of B=32 weighted copies (a projection, not a
    shuffle), one (lang, b) partial+final agg, one window over the
    |langs|·B tiny aggregate. At 100 TB the fan-out stays map-side;
    B scales the cost linearly and independently of row count.
    """
    d = par(T(spark, sf_dir, "documents")).select(
        "lang", "doc_id", F.col("n_chars").cast("long").alias("x")
    )
    b = spark.range(1, _BS_B + 1).select(F.col("id").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#bs"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    w = (
        F.when(u < _BS_CUTS[0], 0)
        .when(u < _BS_CUTS[1], 1)
        .when(u < _BS_CUTS[2], 2)
        .when(u < _BS_CUTS[3], 3)
        .otherwise(4)
    )
    rm = (
        d.crossJoin(F.broadcast(b))
        .select("lang", "b", "x", w.alias("w"))
        .groupBy("lang", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "lang", "b", F.expr("1000 * swx DIV sw").alias("mean_pm")
        )
    )
    ranked = rm.select(
        "lang",
        "mean_pm",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("mean_pm", "b"))
        .alias("rn"),
    )
    full_s = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("1000 * sum(x) DIV count(*)").alias("mean_permille"),
    )
    lo = ranked.where(F.col("rn") == 2).select(
        "lang", F.col("mean_pm").alias("boot_lo_permille")
    )
    hi = ranked.where(F.col("rn") == _BS_B - 1).select(
        "lang", F.col("mean_pm").alias("boot_hi_permille")
    )
    return (
        full_s.join(lo, "lang")
        .join(hi, "lang")
        .select(
            "lang",
            "n_docs",
            F.col("mean_permille").cast("long").alias("mean_permille"),
            F.col("boot_lo_permille").cast("long").alias("boot_lo_permille"),
            F.col("boot_hi_permille").cast("long").alias("boot_hi_permille"),
        )
    )


_RHO_EXPR = (
    "CASE WHEN sxx = 0 OR syy = 0 THEN NULL "
    "ELSE CAST(sxy AS DOUBLE) "
    "/ (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))) END"
)

_SPEARMAN_SQL = f"""
    WITH ranked AS (
      SELECT lang,
             2 * rank() OVER (PARTITION BY lang ORDER BY n_chars NULLS LAST)
               + CAST(count(*) OVER (PARTITION BY lang, n_chars) AS BIGINT)
               - count(*) OVER (PARTITION BY lang) - 2 AS cx,
             2 * rank() OVER (PARTITION BY lang ORDER BY doc_id)
               + 1
               - count(*) OVER (PARTITION BY lang) - 2 AS cy
      FROM documents
    ),
    m AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cx * cy) AS BIGINT) AS sxy,
             CAST(sum(cx * cx) AS BIGINT) AS sxx,
             CAST(sum(cy * cy) AS BIGINT) AS syy
      FROM ranked GROUP BY lang
    )
    SELECT lang, n, {_RHO_EXPR} AS spearman_rho
    FROM m
    """


@query("stat_spearman_rank", sql=_SPEARMAN_SQL, tags=("stats", "correlation"))
def stat_spearman_rank(spark, sf_dir):
    """Per-language Spearman rank correlation of (doc_id, n_chars) —
    the monotone-association companion of `stat_corr_per_lang`'s
    Pearson on the same pair (together they flag nonlinear drift:
    Pearson ≈ 0 with |rho| >> 0 means a monotone-but-curved trend).

    Ties use the standard AVERAGE-rank convention, kept integer by
    working in doubled-and-centered ranks: with rank() = 1 + |{v' < v}|
    and t = |tie group|, 2·avg_rank = 2·rank + t − 1, and centering by
    the constant (n+1) gives c = 2·rank + t − n − 2 with Σc = 0 exactly
    (tie-averaging preserves the rank sum). rho is then Pearson on the
    c's: Σcxcy / (√Σcx² · √Σcy²) from exact int64 moments — no float
    reduction anywhere, and the final BIGINT→DOUBLE casts + one fixed
    expression are deterministic cross-engine (doc_id is unique per
    row, so its tie term is the literal 1). Null ordering is pinned
    NULLS LAST on both engines — Spark ranks nulls FIRST ascending by
    default while DuckDB ranks them LAST, so an unpinned rank would
    silently diverge the moment n_chars turns nullable.

    Shape: two per-lang sort windows over the corpus (the unavoidable
    cost of exact global ranks — rank() and both count() windows share
    the same partition so Spark plans two Window nodes, not four),
    then one partial+final agg to 5 int64 moments per lang. Overflow
    envelope: |c| ≤ n, so Σc² ≤ n³ — exact through ~2M docs per
    language; beyond that, rank on a deterministic md5 sample or swap
    the moments to decimal(38,0).
    """
    d = T(spark, sf_dir, "documents")
    n = F.count("*").over(Window.partitionBy("lang")).cast("long")
    cx = (
        2 * F.rank().over(
            Window.partitionBy("lang").orderBy(F.asc_nulls_last("n_chars"))
        )
        + F.count("*").over(Window.partitionBy("lang", "n_chars")).cast("long")
        - n
        - 2
    )
    cy = (
        2 * F.rank().over(Window.partitionBy("lang").orderBy("doc_id"))
        + 1
        - n
        - 2
    )
    ranked = d.select("lang", cx.alias("cx"), cy.alias("cy"))
    m = ranked.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cx") * F.col("cy")).alias("sxy"),
        F.sum(F.col("cx") * F.col("cx")).alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).alias("syy"),
    )
    return m.select("lang", "n", F.expr(_RHO_EXPR).alias("spearman_rho"))


_TAU_EXPR = (
    "CASE WHEN n <= 1 OR ty >= n * (n - 1) / 2 THEN NULL ELSE "
    "(CAST(c AS DOUBLE) - CAST(d AS DOUBLE)) / sqrt("
    "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0)"
    " * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0"
    " - CAST(ty AS DOUBLE))) END"
)

_KENDALL_SQL = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.n_ev > a.n_ev THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN b.n_ev < a.n_ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN b.n_ev = a.n_ev THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ),
    cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1
    )
    SELECT event_type, n, c AS concordant, d AS discordant, ty AS ties_y,
           {_TAU_EXPR} AS kendall_tau_b
    FROM p JOIN cnt USING (event_type)
    """


@query("stat_kendall_tau_daily", sql=_KENDALL_SQL, tags=("stats", "correlation"))
def stat_kendall_tau_daily(spark, sf_dir):
    """Kendall tau-b monotone-trend test on each event type's daily
    volume series — the rank statistic behind the Mann-Kendall trend
    test ops teams run on activity series (is this event type's
    volume drifting up, beyond what Theil-Sen's slope alone says?).
    tau-b = (C − D)/√(n0(n0 − Ty)) with n0 = n(n−1)/2 and the tie
    correction Ty for equal daily counts (days are unique, so the
    x-tie term is zero exactly — `stat_theil_sen_daily_trend` holds
    the matching slope estimator).

    Determinism: C/D/Ty are exact int64 pair counts; tau assembles
    them in one shared textual expression of IEEE ops (sqrt only —
    correctly rounded). No float reduction exists anywhere.

    Shape + scale contract: the corpus-sized work is the daily
    partial+final count agg; the O(days²) pair self-join runs on the
    DAYS-sized series (≤ 366 rows/type/year → ≤ 67k pairs — same
    documented contract as Theil-Sen), broadcast-joined per type. At
    100 TB the series length doesn't grow with corpus bytes, only
    with calendar span; a multi-decade span would switch to the
    merge-sort O(n log n) inversion count over the same series.
    """
    # localCheckpoint: the days-sized aggregate feeds THREE consumers
    # (both self-join sides + the per-type count) — materialize the one
    # corpus-sized pass instead of re-running the scan+agg per branch
    daily = (
        par(T(spark, sf_dir, "events"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_ev"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(F.col("b.n_ev") > F.col("a.n_ev"), 1).otherwise(0)).alias("c"),
            F.sum(F.when(F.col("b.n_ev") < F.col("a.n_ev"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("b.n_ev") == F.col("a.n_ev"), 1).otherwise(0)).alias("ty"),
        )
    )
    cnt = daily.groupBy("event_type").agg(F.count("*").alias("n"))
    return p.join(cnt, "event_type").select(
        "event_type",
        "n",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("ty").alias("ties_y"),
        F.expr(_TAU_EXPR).alias("kendall_tau_b"),
    )


_LB_MAX_LAG = 7
_LB_CHI2_CRIT = 14.0671  # chi-square 95% critical value, df = 7

#: shared Ljung-Box expression — identical text evaluated by BOTH
#: engines over identical exact-int64 inputs (n, c0, c1..c7), so the
#: double result is bit-identical: rk = ck/c0 (the n² centering scale
#: cancels), Q = n(n+2)·Σ rk²/(n−k) with the lag sum written as a
#: fixed-order chain (never an aggregate — aggregation order differs).
_LB_Q_EXPR = (
    f"CASE WHEN n <= {_LB_MAX_LAG} OR c0 = 0 THEN NULL ELSE "
    "CAST(n AS DOUBLE) * (n + 2) * ("
    + " + ".join(
        f"(CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE))"
        f" * (CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE)) / (n - {k})"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    + ") END"
)


@query(
    "stat_ljung_box",
    sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ),
    cent AS (
      SELECT d.event_type,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS idx,
             t.n * d.c - t.s AS dv, t.n
      FROM daily d JOIN tot t USING (event_type)
    ),
    lagged AS (
      SELECT a.event_type, CAST(l.i AS INTEGER) AS lag,
             CAST(sum(a.dv * b.dv) AS BIGINT) AS ck
      FROM cent a
      CROSS JOIN range(1, {_LB_MAX_LAG + 1}) l(i)
      JOIN cent b ON b.event_type = a.event_type
                 AND b.idx = a.idx + CAST(l.i AS INTEGER)
      GROUP BY 1, 2
    ),
    m AS (
      SELECT c.event_type, any_value(c.n) AS n,
             CAST(sum(c.dv * c.dv) AS BIGINT) AS c0
      FROM cent c GROUP BY 1
    ),
    wide AS (
      SELECT m.event_type, m.n, m.c0,
             {", ".join(
                 f"coalesce(max(CASE WHEN l.lag = {k} THEN l.ck END), 0) AS c{k}"
                 for k in range(1, _LB_MAX_LAG + 1))}
      FROM m LEFT JOIN lagged l USING (event_type)
      GROUP BY m.event_type, m.n, m.c0
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           {_LB_Q_EXPR} AS q_lb,
           ({_LB_Q_EXPR}) > {_LB_CHI2_CRIT} AS white_noise_rejected
    FROM wide
    """,
    tags=("stats", "timeseries", "diagnostics"),
)
def stat_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test per event-type daily series — the
    "is this just noise?" gate run before fitting any forecast model
    (`trend_holt_*`) or alerting on `trend_autocorr_daily`'s spikes:
    Q = n(n+2)·Σ_{{k≤7}} r_k²/(n−k) against the χ²(7) 95% critical
    value. A rejected null says the series carries real structure
    (weekly cycle, trend); an accepted one says the autocorr plot is
    sampling noise and downstream seasonal models would overfit.

    Exactness: autocovariances are computed on n²-scaled centered
    values dv_t = n·x_t − S (integers — the mean never becomes a
    float), so every c_k is an exact int64 and r_k = c_k/c0 is one
    double division of exact integers; the lag sum is a fixed-order
    expression chain shared verbatim with the oracle. Series shorter
    than 8 days or constant (c0 = 0) yield NULL, not a division error.

    Scale shape: the corpus-sized work is the map-combinable daily
    count; everything after runs on a DAYS×TYPES-sized frame (the
    self-join is per-type over ≤ n rows with a broadcast lag spine).
    """
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    cent = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .alias("idx"),
            (F.col("n") * F.col("c") - F.col("s")).alias("dv"),
            "n",
        )
        .localCheckpoint(eager=False)
    )
    a = cent.select(
        "event_type",
        "idx",
        F.col("dv").alias("da"),
        F.explode(F.sequence(F.lit(1), F.lit(_LB_MAX_LAG))).alias("lag"),
    )
    b = cent.select(
        F.col("event_type").alias("b_type"),
        F.col("idx").alias("b_idx"),
        F.col("dv").alias("db"),
    )
    lagged = (
        a.join(
            F.broadcast(b),
            (F.col("b_type") == F.col("event_type"))
            & (F.col("b_idx") == F.col("idx") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("da") * F.col("db")).cast("long").alias("ck"))
    )
    m = cent.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("c0"),
    )
    wide = (
        m.join(lagged, "event_type", "left")
        .groupBy("event_type", "n", "c0")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("lag") == k, F.col("ck"))), F.lit(0)
                ).alias(f"c{k}")
                for k in range(1, _LB_MAX_LAG + 1)
            ]
        )
    )
    q = F.expr(_LB_Q_EXPR)
    return wide.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        q.alias("q_lb"),
        (q > _LB_CHI2_CRIT).alias("white_noise_rejected"),
    )


_SRM_CHI2_CRIT = 3.8415  # chi-square 95% critical value, df = 1


@query(
    "stat_ab_srm_guardrail",
    sql=f"""
    WITH assigned AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm
      FROM events
    ),
    daily AS (
      SELECT day,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
      FROM assigned GROUP BY day
    )
    SELECT day, n_a, n_b,
           CASE WHEN n_a + n_b = 0 THEN NULL
                ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
           END AS srm_chi2,
           CASE WHEN n_a + n_b = 0 THEN NULL
                ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
                     > {_SRM_CHI2_CRIT}
           END AS srm_flag
    FROM daily
    """,
    tags=("stats", "experimentation", "quality"),
)
def stat_ab_srm_guardrail(spark, sf_dir):
    """Sample-ratio-mismatch guardrail — the first check every A/B
    platform runs before reading a single metric: assign users to arms
    by a deterministic hash (md5 parity — the same stateless-assignment
    trick `text_train_val_split`/`curate_shard_assignment` use), count
    daily exposures per arm, and test the observed split against the
    designed 50/50 with a df=1 chi-square. A flagged day means the
    assignment or logging pipeline is biased and every downstream
    experiment readout that day is untrustworthy.

    For an equal split the statistic collapses to (n_a−n_b)²/(n_a+n_b)
    — computed as ONE double division of exact int64 counts, so both
    engines agree bitwise. Scale shape: a per-row hash projection +
    one map-combinable groupBy(day); no joins, no windows — scan-speed
    at any corpus size, and the arm assignment never needs a user
    dimension table.
    """
    ev = T(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.when(arm == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(arm == 1, 1)).cast("long").alias("n_b"),
    )
    chi2 = F.when(
        (F.col("n_a") + F.col("n_b")) > 0,
        ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
            "double"
        )
        / (F.col("n_a") + F.col("n_b")),
    )
    return daily.select(
        "day", "n_a", "n_b", chi2.alias("srm_chi2"), (chi2 > _SRM_CHI2_CRIT).alias("srm_flag")
    )


_CUPED_SPLIT = "2024-01-16"  # pre-period < split <= experiment period

_CUPED_THETA = (
    "CASE WHEN n * sxx - sx * sx = 0 THEN NULL "
    "ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END"
)
#: shared final expressions — identical text both engines evaluate over
#: identical exact-int64 moment columns, so the doubles match bitwise.
_CUPED_ADJ = (
    f"CAST(sy_arm AS DOUBLE) / n_arm - ({_CUPED_THETA})"
    " * (CAST(sx_arm AS DOUBLE) / n_arm - CAST(sx AS DOUBLE) / n)"
)
_CUPED_RHO2 = (
    "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL "
    "ELSE CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)"
    " / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END"
)


@query(
    "stat_cuped_adjusted_means",
    sql=f"""
    WITH u AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             CAST(count(*) FILTER (WHERE CAST(ts AS DATE) < DATE '{_CUPED_SPLIT}')
                  AS BIGINT) AS x,
             CAST(count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '{_CUPED_SPLIT}'
                                     AND event_type = 'purchase')
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM u
    ),
    a AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(x) AS BIGINT) AS sx_arm,
             CAST(sum(y) AS BIGINT) AS sy_arm
      FROM u GROUP BY arm
    )
    SELECT arm, n_arm AS n_users,
           CAST(sy_arm AS DOUBLE) / n_arm AS mean_y,
           {_CUPED_ADJ} AS mean_y_cuped,
           {_CUPED_THETA} AS theta,
           {_CUPED_RHO2} AS var_reduction
    FROM a, g
    """,
    tags=("stats", "experimentation"),
)
def stat_cuped_adjusted_means(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al. 2013) —
    the adjustment every mature A/B platform applies before comparing
    arms: regress the experiment-period metric (per-user purchase
    count) on a pre-period covariate (per-user activity before the
    split), and report each arm's mean shifted by θ·(x̄_arm − x̄). The
    covariate is balanced across arms by randomization, so the
    adjustment removes its variance share (ρ², also emitted) without
    biasing the treatment effect — tighter CIs from the same data.
    Pairs with `stat_ab_srm_guardrail`: SRM gates the readout, CUPED
    sharpens it.

    Exactness: per-user (x, y) are integer counts; all moments are
    exact int64 sums; θ, the adjusted means, and ρ² are fixed shared
    expressions over those integers — bitwise-identical cross-engine.
    Scale shape: ONE groupBy(user) over the corpus (both periods in
    one conditional-aggregate pass, no self-join), then moments over
    the users frame (map-combinable partial+final), then arithmetic on
    a 2-row frame with the 1-row global moments broadcast in.
    """
    ev = T(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    split = F.lit(_CUPED_SPLIT).cast("date")
    u = ev.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.count(F.when(F.to_date("ts") < split, 1)).cast("long").alias("x"),
        F.count(
            F.when(
                (F.to_date("ts") >= split) & (F.col("event_type") == "purchase"), 1
            )
        )
        .cast("long")
        .alias("y"),
    )
    g = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    a = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_arm"),
        F.sum("x").cast("long").alias("sx_arm"),
        F.sum("y").cast("long").alias("sy_arm"),
    )
    return a.join(F.broadcast(g)).select(
        "arm",
        F.col("n_arm").alias("n_users"),
        (F.col("sy_arm").cast("double") / F.col("n_arm")).alias("mean_y"),
        F.expr(_CUPED_ADJ).alias("mean_y_cuped"),
        F.expr(_CUPED_THETA).alias("theta"),
        F.expr(_CUPED_RHO2).alias("var_reduction"),
    )


_MASE_M = 7  # seasonal period (weekly) — also the holdout horizon

_MASE_EXPR = (
    "CASE WHEN n_in = 0 OR sae_in = 0 OR n_hold = 0 THEN NULL "
    "ELSE (CAST(sae_hold AS DOUBLE) / n_hold) / (CAST(sae_in AS DOUBLE) / n_in) END"
)


@query(
    "trend_forecast_backtest_mase",
    sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idxd AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS mx
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type, a.mx,
             CASE WHEN a.idx > a.mx - {_MASE_M} THEN 1 ELSE 0 END AS is_hold,
             abs(a.c - b.c) AS ae
      FROM idxd a JOIN idxd b
        ON b.event_type = a.event_type AND b.idx = a.idx - {_MASE_M}
    ),
    m AS (
      SELECT event_type,
             CAST(sum(CASE WHEN is_hold = 1 THEN ae END) AS BIGINT) AS sae_hold,
             CAST(count(*) FILTER (WHERE is_hold = 1) AS BIGINT) AS n_hold,
             CAST(sum(CASE WHEN is_hold = 0 THEN ae END) AS BIGINT) AS sae_in,
             CAST(count(*) FILTER (WHERE is_hold = 0) AS BIGINT) AS n_in
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, n_hold, sae_hold, n_in, sae_in,
           {_MASE_EXPR} AS mase
    FROM m
    """,
    tags=("trend", "forecast", "evaluation"),
)
def trend_forecast_backtest_mase(spark, sf_dir):
    """Forecast BACKTEST — the evaluation half the forecasting ops
    (`trend_holt_*`, seasonal decompose) need before anyone trusts
    them: hold out the final week per event-type series, forecast it
    with the seasonal-naive baseline ŷ_t = y_{{t−7}}, and score MASE
    (Hyndman & Koehler 2006) = holdout MAE ÷ in-sample MAE of the same
    seasonal-naive — the scale-free skill score where < 1 beats the
    naive repeat-last-week rule. Holdout forecasts only read days at or
    before the split (t−7 ≤ split for every holdout t), so the backtest
    is genuinely out-of-sample.

    Exactness: absolute errors of integer daily counts are exact int64;
    both SAE sums are reduction-order-free; MASE is ONE shared double
    expression over four integers. Scale shape: corpus work is the
    map-combinable daily count; the lag join and scoring run on the
    DAYS×TYPES frame (same self-join spine as `stat_ljung_box`).
    """
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    wt = Window.partitionBy("event_type")
    idxd = daily.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("day")).alias("idx"),
        F.count("*").over(wt).cast("long").alias("mx"),
    ).localCheckpoint(eager=False)
    b = idxd.select(
        F.col("event_type").alias("b_type"),
        F.col("idx").alias("b_idx"),
        F.col("c").alias("b_c"),
    )
    pairs = idxd.join(
        F.broadcast(b),
        (F.col("b_type") == F.col("event_type"))
        & (F.col("b_idx") == F.col("idx") - _MASE_M),
    ).select(
        "event_type",
        (F.col("idx") > F.col("mx") - _MASE_M).cast("int").alias("is_hold"),
        F.abs(F.col("c") - F.col("b_c")).alias("ae"),
    )
    m = pairs.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_hold") == 1, F.col("ae"))).cast("long").alias("sae_hold"),
        F.count(F.when(F.col("is_hold") == 1, 1)).cast("long").alias("n_hold"),
        F.sum(F.when(F.col("is_hold") == 0, F.col("ae"))).cast("long").alias("sae_in"),
        F.count(F.when(F.col("is_hold") == 0, 1)).cast("long").alias("n_in"),
    )
    return m.select(
        "event_type",
        "n_hold",
        "sae_hold",
        "n_in",
        "sae_in",
        F.expr(_MASE_EXPR).alias("mase"),
    )


_MDE_Z = "2.801585"  # z_{0.975} + z_{0.80}: 80% power at alpha = 0.05

_MDE_VAR = (
    "CASE WHEN n <= 1 THEN NULL ELSE "
    "CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) END"
)
_MDE_ABS = f"{_MDE_Z} * sqrt(2.0 * ({_MDE_VAR}) / (n / 2))"
_MDE_REL = (
    f"CASE WHEN sy = 0 THEN NULL ELSE ({_MDE_ABS}) / (CAST(sy AS DOUBLE) / n) END"
)


@query(
    "stat_power_analysis_mde",
    sql=f"""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM u
    )
    SELECT n AS n_users, CAST(n // 2 AS BIGINT) AS n_per_arm,
           CAST(sy AS DOUBLE) / n AS mean_y,
           {_MDE_VAR} AS var_y,
           {_MDE_ABS} AS mde_abs,
           {_MDE_REL} AS mde_rel
    FROM m
    """,
    tags=("stats", "experimentation"),
)
def stat_power_analysis_mde(spark, sf_dir):
    """Pre-experiment power analysis — the minimum detectable effect a
    50/50 split of the CURRENT user base could resolve at alpha = 0.05
    with 80% power: MDE = (z₀.₉₇₅ + z₀.₈)·√(2σ²/n_arm), with σ² taken
    from the live per-user purchase-count distribution rather than a
    guess. The third leg of the experimentation set: `stat_ab_srm_*`
    gates a running test, `stat_cuped_*` sharpens its readout, and this
    op decides — BEFORE launch — whether the test is worth running at
    all (an MDE above the plausible effect size means the experiment
    cannot conclude). mde_rel expresses it as a fraction of the current
    mean, the number product teams actually reason about.

    Exactness: per-user counts and both moments are exact int64; σ²,
    MDE, and the relative form are fixed shared expressions (the z-sum
    is a single literal). Scale: one map-combinable groupBy(user), one
    moment reduction, arithmetic on a 1-row frame.
    """
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("y")
    )
    m = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.expr("CAST(n div 2 AS BIGINT)").alias("n_per_arm"),
        (F.col("sy").cast("double") / F.col("n")).alias("mean_y"),
        F.expr(_MDE_VAR).alias("var_y"),
        F.expr(_MDE_ABS).alias("mde_abs"),
        F.expr(_MDE_REL).alias("mde_rel"),
    )


_RT_K = 199  # label reassignments; p-value resolution = 1/(K+1) = 1/200

#: md5-parity arm for permutation k — same family as the observed
#: assignment (k absent), so the null replays bit-identically in DuckDB.
_RT_CMP = (
    "abs(psy_a * pn_b - psy_b * pn_a) * (n_a * n_b)"
    " >= abs(sy_a * n_b - sy_b * n_a) * (pn_a * pn_b)"
)


@query(
    "stat_randomization_test",
    sql=f"""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT
        CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
        CAST(coalesce(sum(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS sy_a,
        CAST(coalesce(sum(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS sy_b
      FROM (
        SELECT y,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2 AS arm
        FROM u
      )
    ),
    perms AS (
      SELECT k,
        CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS pn_a,
        CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS pn_b,
        CAST(coalesce(sum(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS psy_a,
        CAST(coalesce(sum(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS psy_b
      FROM (
        SELECT g.k, u.y,
               CAST(concat('0x', substr(md5(concat(CAST(u.user_id AS VARCHAR),
                                                   ':', CAST(g.k AS VARCHAR))),
                                 1, 15)) AS BIGINT) % 2 AS arm
        FROM u CROSS JOIN generate_series(1, {_RT_K}) AS g(k)
      ) GROUP BY k
    )
    SELECT n_a, n_b, sy_a, sy_b,
           CAST(count(*) FILTER (WHERE {_RT_CMP}) AS BIGINT) AS k_extreme,
           CAST((1 + count(*) FILTER (WHERE {_RT_CMP})) * 1000
                // ({_RT_K} + 1) AS BIGINT) AS p_permille,
           (1 + count(*) FILTER (WHERE {_RT_CMP})) * 1000
                // ({_RT_K} + 1) <= 50 AS rejected
    FROM perms CROSS JOIN obs
    GROUP BY n_a, n_b, sy_a, sy_b
    """,
    tags=("stats", "experimentation", "resampling"),
)
def stat_randomization_test(spark, sf_dir):
    """Randomization (Monte-Carlo permutation) test for the arm
    difference in per-user purchase counts — the assumption-free
    companion of the parametric t-test: reassign every user to a fresh
    md5-derived pseudo-arm K=199 times and ask how often the null
    reassignment produces a mean gap at least as extreme as the
    observed md5-parity split. p = (1 + #extreme)/(K + 1), the
    add-one-correct Monte-Carlo estimator.

    Exactness: everything is integer — per-user counts, arm sums, and
    the "as extreme" comparison itself, which cross-multiplies the two
    mean gaps (|Δ̄| = |sy_a·n_b − sy_b·n_a|/(n_a·n_b)) so no float
    division is ever compared. md5 on identical strings replays
    bit-identically in DuckDB. Overflow envelope: |Δ|·(n_a·n_b) ≤
    Σy·n³ — safe through ~1e6 users × 1e6 events each; beyond that,
    route the two products through DECIMAL(38,0) on both engines.
    Scale shape: one groupBy(user) over the corpus, then a K-way
    explode of the USERS frame (map-side compute, partial aggregation
    reduces the shuffle to K×2 rows per partition), a K-row final
    frame, and a broadcast 1-row observed join. K is a constant knob:
    cost is O(K·users) map work with no corpus re-scan.
    """
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("y")
    )

    def _parity(col):
        return (
            F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % 2
        )

    def _arms(df, pre):
        return df.agg(
            F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias(f"{pre}n_a"),
            F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias(f"{pre}n_b"),
            F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
            .cast("long")
            .alias(f"{pre}sy_a"),
            F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
            .cast("long")
            .alias(f"{pre}sy_b"),
        )

    obs = _arms(
        u.select("y", _parity(F.col("user_id").cast("string")).alias("arm")), ""
    )
    perms = (
        par(u)
        .select(
            "user_id",
            "y",
            F.explode(F.sequence(F.lit(1), F.lit(_RT_K))).alias("k"),
        )
        .select(
            "k",
            "y",
            _parity(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ).alias("arm"),
        )
        .groupBy("k")
    )
    pk = _arms(perms, "p")
    cmp_spark = _RT_CMP.replace("//", "div")
    return (
        pk.crossJoin(F.broadcast(obs))
        .groupBy("n_a", "n_b", "sy_a", "sy_b")
        .agg(
            F.count(F.when(F.expr(cmp_spark), 1)).cast("long").alias("k_extreme")
        )
        .select(
            "n_a",
            "n_b",
            "sy_a",
            "sy_b",
            "k_extreme",
            F.expr(f"CAST((1 + k_extreme) * 1000 div ({_RT_K} + 1) AS BIGINT)").alias(
                "p_permille"
            ),
            F.expr(f"(1 + k_extreme) * 1000 div ({_RT_K} + 1) <= 50").alias(
                "rejected"
            ),
        )
    )


@query(
    "stat_quantile_normalize",
    sql="""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    dist AS (
      SELECT n_chars AS v,
             CAST(sum(count(*)) OVER (ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi,
             CAST(sum(count(*)) OVER (ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - count(*) + 1 AS BIGINT) AS lo
      FROM documents GROUP BY n_chars
    ),
    ranked AS (
      SELECT source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
      FROM documents
    ),
    mapped AS (
      SELECT ranked.source, ranked.n_chars, dist.v
      FROM ranked CROSS JOIN tot
      JOIN dist ON (ranked.r - 1) * tot.n // ranked.n_s + 1 BETWEEN dist.lo AND dist.hi
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
           CAST(sum(v) AS DOUBLE) / count(*) AS mean_calibrated
    FROM mapped GROUP BY source
    """,
    tags=("stats", "curation", "calibration"),
)
def stat_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of document length — map
    each source's n_chars distribution onto the POOLED corpus
    distribution (the microarray / score-calibration classic): a doc at
    within-source rank r out of n_s lands at pooled position
    (r−1)·N div n_s + 1, and takes the pooled order statistic there.
    After the mapping every source has (up to integer granularity) the
    same length distribution — the per-source mean shift that survives
    is pure composition, making quality scores comparable across crawls
    with different length profiles before mixing (pairs with
    `curate_source_mixing`).

    Exactness: ranks, positions, and the interval join are all
    integers; the two means are single int/int double divisions.
    Scale shape: the pooled distribution is VALUE-DOMAIN-sized (one
    groupBy(n_chars) + a cumulative window over |distinct values| rows
    — never a global sort of the corpus), broadcast into a range join;
    the per-source rank window shuffles by source only. The classic
    global-row_number formulation would single-thread the corpus; this
    one never materializes a global ordering.
    """
    d = T(spark, sf_dir, "documents")
    tot = d.agg(F.count("*").cast("long").alias("n"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    dist = (
        d.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("m"))
        .select(
            "v",
            F.sum("m").over(wcum).cast("long").alias("hi"),
            (F.sum("m").over(wcum) - F.col("m") + 1).cast("long").alias("lo"),
        )
    )
    ws = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number()
        .over(ws.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("r"),
        F.count("*").over(ws).cast("long").alias("n_s"),
    )
    pos = F.expr("(r - 1) * n div n_s + 1")
    mapped = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("pos", pos)
        .join(
            F.broadcast(dist),
            (F.col("pos") >= F.col("lo")) & (F.col("pos") <= F.col("hi")),
        )
    )
    return mapped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("mean_chars"),
        (F.sum("v").cast("double") / F.count("*")).alias("mean_calibrated"),
    )


@query(
    "stat_isotonic_calibration",
    sql="""
    WITH b AS (
      SELECT n_chars // 20 AS bucket,
             CAST(count(*) AS BIGINT) AS w,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS s
      FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT bucket, w, s,
             CAST(sum(w) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
             CAST(sum(s) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
      FROM b
    ),
    pairs AS (
      SELECT j.bucket AS jb, k.bucket AS kb,
             CAST(k.cs - (j.cs - j.s) AS DOUBLE)
               / CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS avg_jk
      FROM cum j JOIN cum k ON j.bucket <= k.bucket
    ),
    inner_min AS (
      SELECT i.bucket AS bucket, p.jb,
             min(p.avg_jk) AS min_avg
      FROM b i JOIN pairs p ON p.jb <= i.bucket AND p.kb >= i.bucket
      GROUP BY i.bucket, p.jb
    ),
    fit AS (
      SELECT bucket, max(min_avg) AS iso_rate FROM inner_min GROUP BY bucket
    )
    SELECT b.bucket, b.w AS n_docs,
           CAST(b.s * 1000000 // b.w AS BIGINT) AS raw_ppm,
           fit.iso_rate
    FROM b JOIN fit ON b.bucket = fit.bucket
    """,
    tags=("stats", "calibration", "training-prep"),
)
def stat_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration of a bucketed score against a binary
    target — fit the monotone non-decreasing rate curve closest in L²
    to the observed per-bucket English rate over length-ventile
    buckets. This is the calibration step a quality-classifier score
    gets before its threshold means anything (Zadrozny & Elkan 2002);
    the raw-vs-fitted gap per bucket is the reliability diagram.

    Algorithm: instead of the sequential pool-adjacent-violators stack
    (unbounded merge loop — not expressible in one SQL pass), use the
    exact MINIMAX characterization fit_i = max_{j≤i} min_{k≥i}
    mean(s[j..k]) — PAV's closed form. O(B³) pairs over the
    BUCKET-DOMAIN frame only (B ≈ dozens): every join here is
    bucket×bucket metadata, broadcast, never corpus-sized; the one
    corpus pass is the combinable groupBy(bucket). Exactness: weights
    and target sums are exact int64; each candidate mean is a single
    int/int double division on identical operands, so min/max pick
    identical values cross-engine.
    """
    d = T(spark, sf_dir, "documents")
    b = d.groupBy(F.expr("n_chars div 20").alias("bucket")).agg(
        F.count("*").cast("long").alias("w"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("s"),
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bucket",
        "w",
        "s",
        F.sum("w").over(wcum).cast("long").alias("cw"),
        F.sum("s").over(wcum).cast("long").alias("cs"),
    )
    j = cum.select(
        F.col("bucket").alias("jb"),
        (F.col("cw") - F.col("w")).alias("pw"),
        (F.col("cs") - F.col("s")).alias("ps"),
    )
    k = cum.select(
        F.col("bucket").alias("kb"), F.col("cw").alias("kw"), F.col("cs").alias("ks")
    )
    pairs = j.join(F.broadcast(k), F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("ks") - F.col("ps")).cast("double")
            / (F.col("kw") - F.col("pw")).cast("double")
        ).alias("avg_jk"),
    )
    spine = b.select("bucket")
    inner = (
        spine.join(
            F.broadcast(pairs),
            (F.col("jb") <= F.col("bucket")) & (F.col("kb") >= F.col("bucket")),
        )
        .groupBy("bucket", "jb")
        .agg(F.min("avg_jk").alias("min_avg"))
    )
    fit = inner.groupBy("bucket").agg(F.max("min_avg").alias("iso_rate"))
    return (
        b.join(F.broadcast(fit), "bucket")
        .select(
            "bucket",
            F.col("w").alias("n_docs"),
            F.expr("CAST(s * 1000000 div w AS BIGINT)").alias("raw_ppm"),
            "iso_rate",
        )
    )


_BH_CMP = (
    "abs(psy_a * pn_b - psy_b * pn_a) * (n_a * n_b)"
    " >= abs(sy_a * n_b - sy_b * n_a) * (pn_a * pn_b)"
)


@query(
    "stat_fdr_bh_randomization",
    sql=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
      FROM (
        SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2 AS arm
        FROM u
      )
    ),
    parms AS (
      SELECT k,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS pn_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS pn_b
      FROM (
        SELECT g.k,
               CAST(concat('0x', substr(md5(concat(CAST(u.user_id AS VARCHAR),
                                                   ':', CAST(g.k AS VARCHAR))),
                                 1, 15)) AS BIGINT) % 2 AS arm
        FROM u CROSS JOIN generate_series(1, {_RT_K}) AS g(k)
      ) GROUP BY k
    ),
    uy AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    obs AS (
      SELECT event_type,
             CAST(coalesce(sum(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS sy_a,
             CAST(coalesce(sum(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS sy_b
      FROM (
        SELECT event_type, y,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2 AS arm
        FROM uy
      ) GROUP BY event_type
    ),
    psums AS (
      SELECT event_type, k,
             CAST(coalesce(sum(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS psy_a,
             CAST(coalesce(sum(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS psy_b
      FROM (
        SELECT uy.event_type, uy.y, g.k,
               CAST(concat('0x', substr(md5(concat(CAST(uy.user_id AS VARCHAR),
                                                   ':', CAST(g.k AS VARCHAR))),
                                 1, 15)) AS BIGINT) % 2 AS arm
        FROM uy CROSS JOIN generate_series(1, {_RT_K}) AS g(k)
      ) GROUP BY 1, 2
    ),
    pv AS (
      SELECT o.event_type,
             CAST((1 + count(*) FILTER (WHERE {_BH_CMP})) * 1000
                  // ({_RT_K} + 1) AS BIGINT) AS p_permille
      FROM psums p
      JOIN parms ON parms.k = p.k
      JOIN obs o ON o.event_type = p.event_type
      CROSS JOIN arms
      GROUP BY o.event_type, arms.n_a, arms.n_b, o.sy_a, o.sy_b
    ),
    ranked AS (
      SELECT event_type, p_permille,
             CAST(row_number() OVER (ORDER BY p_permille, event_type)
                  AS BIGINT) AS rnk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv
    ),
    cutoff AS (
      SELECT coalesce(max(rnk) FILTER (WHERE p_permille * m <= 50 * rnk), 0)
               AS kstar
      FROM ranked
    )
    SELECT event_type, p_permille, rnk, m,
           rnk <= kstar AS rejected
    FROM ranked CROSS JOIN cutoff
    """,
    tags=("stats", "experimentation", "multiple-testing"),
)
def stat_fdr_bh_randomization(spark, sf_dir):
    """Benjamini-Hochberg FDR control over the per-metric randomization
    tests — the multiple-testing step every experimentation readout
    with more than one metric needs (here: one arm-difference test per
    event type, so five simultaneous hypotheses). BH is the step-up
    rule: rank p ascending, find the largest k with p_(k) <= alpha*k/m,
    reject ranks 1..k.

    EXACT end to end, which almost no BH implementation is: the
    per-metric p-values come from the same md5 randomization machinery
    as `stat_randomization_test` (integer permille, cross-multiplied
    integer extremeness — no chi-square inverse, no erf approximation
    to drift between engines), and the step-up comparison
    p_(k) <= 0.05*k/m is the integer test p_permille*m <= 50*k. The
    tie-break (p, event_type) makes ranks deterministic.

    Scale shape: per-arm TOTALS make zero-count users free (they add 0
    to every sum, so the (user,type) frame only carries observed
    pairs); the K-explode is map-side with partial aggregation down to
    (type, K) partials; BH itself is a window over the METRICS frame
    (m rows). Cost is O(K * observed pairs) map work, one tiny shuffle.
    """
    ev = T(spark, sf_dir, "events")

    def _parity(col):
        return (
            F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % 2
        )

    u = ev.select("user_id").distinct()
    arms = u.select(
        _parity(F.col("user_id").cast("string")).alias("arm")
    ).agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n_b"),
    )
    parms = (
        par(u)
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(1), F.lit(_RT_K))).alias("k"),
        )
        .select(
            "k",
            _parity(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ).alias("arm"),
        )
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("pn_a"),
            F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("pn_b"),
        )
    )
    uy = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("y")
    )
    obs = (
        uy.select(
            "event_type",
            "y",
            _parity(F.col("user_id").cast("string")).alias("arm"),
        )
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
            .cast("long")
            .alias("sy_a"),
            F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
            .cast("long")
            .alias("sy_b"),
        )
    )
    psums = (
        par(uy)
        .select(
            "event_type",
            "y",
            "user_id",
            F.explode(F.sequence(F.lit(1), F.lit(_RT_K))).alias("k"),
        )
        .select(
            "event_type",
            "y",
            "k",
            _parity(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ).alias("arm"),
        )
        .groupBy("event_type", "k")
        .agg(
            F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
            .cast("long")
            .alias("psy_a"),
            F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
            .cast("long")
            .alias("psy_b"),
        )
    )
    cmp_spark = _BH_CMP.replace("//", "div")
    pv = (
        psums.join(F.broadcast(parms), "k")
        .join(F.broadcast(obs), "event_type")
        .crossJoin(F.broadcast(arms))
        .groupBy("event_type")
        .agg(
            F.expr(
                f"CAST((1 + count(CASE WHEN {cmp_spark} THEN 1 END)) * 1000"
                f" div ({_RT_K} + 1) AS BIGINT)"
            ).alias("p_permille")
        )
    )
    wall = Window.orderBy("p_permille", "event_type")
    ranked = pv.select(
        "event_type",
        "p_permille",
        F.row_number().over(wall).cast("long").alias("rnk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_permille") * F.col("m") <= 50 * F.col("rnk"),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        ).alias("kstar")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "event_type",
        "p_permille",
        "rnk",
        "m",
        (F.col("rnk") <= F.col("kstar")).alias("rejected"),
    )


#: shared final expressions over exact int64 (n_g, s_g) group moments —
#: identical text both engines evaluate, so the doubles match bitwise.
_ANOVA_SSB = (
    "CAST(sum_sq_over_n AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)"
)
_ANOVA_SSW = "CAST(ss AS DOUBLE) - CAST(sum_sq_over_n AS DOUBLE)"
_ANOVA_F = (
    f"CASE WHEN k <= 1 OR n <= k OR ({_ANOVA_SSW}) = 0 THEN NULL "
    f"ELSE (({_ANOVA_SSB}) / (k - 1)) / (({_ANOVA_SSW}) / (n - k)) END"
)


@query(
    "stat_anova_oneway",
    sql=f"""
    WITH g AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(n_chars) AS BIGINT) AS s_g,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss_g
      FROM documents GROUP BY source
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(ss_g) AS BIGINT) AS ss,
             sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                 ORDER BY source) AS sum_sq_over_n
      FROM g
    )
    SELECT k AS k_groups, n AS n_docs,
           {_ANOVA_SSB} AS ss_between,
           {_ANOVA_SSW} AS ss_within,
           {_ANOVA_F} AS f_stat
    FROM m
    """,
    tags=("stats", "experimentation", "variance"),
)
def stat_anova_oneway(spark, sf_dir):
    """One-way ANOVA across sources (does mean document length differ
    by origin?): F = (SSB/(k−1)) / (SSW/(N−k)) — the k-group
    generalization of `stat_welch_ttest_sources`, and the first gate
    before inspecting per-source means in a mixing decision.

    Exactness: per-group (n, Σx, Σx²) are exact int64; SSB needs
    Σ s_g²/n_g — a per-group double division whose SUM would normally
    be reduction-order-sensitive, so both engines fold it in the SAME
    explicit order (Spark: sorted array aggregate; DuckDB: ORDER BY
    inside sum) over the CATALOG-sized group frame. SSW = Σx² − that
    same term. Scale shape: one combinable corpus groupBy; everything
    after runs on |sources| rows.
    """
    d = T(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("n_chars").cast("long").alias("s_g"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss_g"),
    )
    m = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("source", "n_g", "s_g"))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["s_g"].cast("double") * x["s_g"].cast("double")
            / x["n_g"].cast("double"),
        ).alias("sum_sq_over_n"),
    )
    return m.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_docs"),
        F.expr(_ANOVA_SSB).alias("ss_between"),
        F.expr(_ANOVA_SSW).alias("ss_within"),
        F.expr(_ANOVA_F).alias("f_stat"),
    )


@query(
    "stat_mutual_information",
    sql="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      FROM documents GROUP BY source, lang
    ),
    m AS (
      SELECT source, lang, n_sl,
             CAST(sum(n_sl) OVER (PARTITION BY source) AS BIGINT) AS n_s,
             CAST(sum(n_sl) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
             CAST(sum(n_sl) OVER () AS BIGINT) AS n
      FROM cells
    ),
    mi AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n_sl * CAST(floor(ln(CAST(n * n_sl AS DOUBLE)
                   / CAST(n_s * n_l AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
               AS mi_int
      FROM m
    ),
    hs AS (
      SELECT CAST(sum(n_s * CAST(floor(ln(CAST(n AS DOUBLE)
                   / CAST(n_s AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS h_int
      FROM (SELECT DISTINCT source, n_s, n FROM m)
    ),
    hl AS (
      SELECT CAST(sum(n_l * CAST(floor(ln(CAST(n AS DOUBLE)
                   / CAST(n_l AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS h_int
      FROM (SELECT DISTINCT lang, n_l, n FROM m)
    )
    SELECT mi.n AS n_docs, mi.n_cells,
           CAST(mi_int AS DOUBLE) / (mi.n * 1e9) AS mi_nats,
           CAST(hs.h_int AS DOUBLE) / (mi.n * 1e9) AS h_source,
           CAST(hl.h_int AS DOUBLE) / (mi.n * 1e9) AS h_lang,
           CASE WHEN least(hs.h_int, hl.h_int) <= 0 THEN NULL
                ELSE CAST(mi_int AS DOUBLE)
                     / CAST(least(hs.h_int, hl.h_int) AS DOUBLE) END AS nmi
    FROM mi, hs, hl
    """,
    tags=("stats", "information", "mixing"),
)
def stat_mutual_information(spark, sf_dir):
    """Plug-in mutual information between source and language (is the
    corpus mix confounded — do sources specialize by language?), with
    both marginal entropies and normalized MI: the quantitative form of
    `stat_chi2_lang_source`'s independence test, in nats, and the
    diagnostic a mixing plan reads before reweighting sources
    (NMI ≈ 1 ⇒ source IS language and temperature-mixing one collapses
    the other).

    Exactness: every probability is a ratio of int64 counts, and each
    cell's log term ln(N·n_sl/(n_s·n_l)) is floor-quantized to integer
    nano-nats (the `lm.py` surprisal technique — a cross-engine libm
    last-bit difference only matters on a floor boundary), so the
    corpus-weighted sums Σ n·q are exact int64 and order-free; NMI is
    one int64/int64 division. Overflow envelope: N·n_sl ≤ N² needs
    N ≤ 3e9; the nano-nat sums stay under int64 through N ≈ 3e8 docs —
    coarsen the quantum to micro-nats past that. Scale shape: one
    combinable corpus groupBy; windows and entropy rollups run on the
    |sources|×|langs| cell frame.
    """
    d = T(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_sl")
    )
    tot = cells.agg(F.sum("n_sl").cast("long").alias("n"))
    m = cells.select(
        "source",
        "lang",
        "n_sl",
        F.sum("n_sl").over(Window.partitionBy("source")).cast("long").alias("n_s"),
        F.sum("n_sl").over(Window.partitionBy("lang")).cast("long").alias("n_l"),
    ).crossJoin(F.broadcast(tot))
    q = lambda num, den: F.floor(  # noqa: E731
        F.log(num.cast("double") / den.cast("double")) * 1e9
    ).cast("long")
    mi = m.agg(
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum(
            F.col("n_sl") * q(F.col("n") * F.col("n_sl"), F.col("n_s") * F.col("n_l"))
        )
        .cast("long")
        .alias("mi_int"),
    )
    hs = (
        m.select("source", "n_s", "n")
        .distinct()
        .agg(F.sum(F.col("n_s") * q(F.col("n"), F.col("n_s"))).cast("long").alias("hs_int"))
    )
    hl = (
        m.select("lang", "n_l", "n")
        .distinct()
        .agg(F.sum(F.col("n_l") * q(F.col("n"), F.col("n_l"))).cast("long").alias("hl_int"))
    )
    return (
        mi.crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("n").alias("n_docs"),
            "n_cells",
            (F.col("mi_int").cast("double") / (F.col("n") * F.lit(1e9))).alias("mi_nats"),
            (F.col("hs_int").cast("double") / (F.col("n") * F.lit(1e9))).alias("h_source"),
            (F.col("hl_int").cast("double") / (F.col("n") * F.lit(1e9))).alias("h_lang"),
            F.when(F.least("hs_int", "hl_int") <= 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("mi_int").cast("double")
                / F.least("hs_int", "hl_int").cast("double")
            )
            .alias("nmi"),
        )
    )


@query(
    "stat_auc_roc",
    sql="""
    WITH g AS (
      SELECT source, n_chars,
             CAST(count(*) AS BIGINT) AS c_tot,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_pos
      FROM documents GROUP BY source, n_chars
    ),
    r AS (
      SELECT source, c_tot, c_pos,
             CAST(sum(c_tot) OVER (PARTITION BY source
                  ORDER BY n_chars NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) - c_tot AS cum_before
      FROM g
    ),
    s AS (
      SELECT source,
             CAST(sum(c_pos) AS BIGINT) AS n_pos,
             CAST(sum(c_tot - c_pos) AS BIGINT) AS n_neg,
             CAST(sum(c_pos * (2 * cum_before + c_tot + 1)) AS BIGINT)
               AS two_rank_sum
      FROM r GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(two_rank_sum - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
    FROM s
    """,
    tags=("stats", "evaluation", "classifier"),
)
def stat_auc_roc(spark, sf_dir):
    """Per-source ROC AUC of document length as a classifier for
    lang = 'en' — the rank-based (Mann-Whitney) AUC with exact mid-rank
    tie handling: AUC = (2·ΣR₊ − n₊(n₊+1)) / (2·n₊·n₋). The standard
    eval for any heuristic quality/routing score (here: does length
    alone separate English?); per-source rows expose sources where the
    signal inverts (AUC < 0.5). Complements `stat_mannwhitney_sources`
    (two-sample location test on the SAME U statistic) by framing it as
    classifier evaluation with the per-group rank bookkeeping.

    Exactness: tied scores get mid-ranks computed from integer
    cumulative counts — 2·Σ mid-ranks = Σ c₊·(2·cum_before + c_tot + 1)
    is exact int64 — so AUC is ONE integer/integer division in double.
    Degenerate sources (single-class) yield NULL, not a fake 0.5.
    Overflow: two_rank_sum ≤ 2n² per source — int64-safe through ~2e9
    docs/source. Scale shape: one combinable groupBy(source, score),
    one per-source cumulative window over distinct score values, one
    per-source rollup; never a per-row window over the corpus.
    """
    d = T(spark, sf_dir, "documents")
    g = d.groupBy("source", "n_chars").agg(
        F.count("*").cast("long").alias("c_tot"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("c_pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc_nulls_last("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        "source",
        "c_tot",
        "c_pos",
        (F.sum("c_tot").over(w).cast("long") - F.col("c_tot")).alias("cum_before"),
    )
    s = r.groupBy("source").agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum(F.col("c_tot") - F.col("c_pos")).cast("long").alias("n_neg"),
        F.sum(F.col("c_pos") * (2 * F.col("cum_before") + F.col("c_tot") + 1))
        .cast("long")
        .alias("two_rank_sum"),
    )
    return s.select(
        "source",
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None).cast("double"))
        .otherwise(
            (F.col("two_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        )
        .alias("auc"),
    )


_DID_CELL = "CAST(m_t_post - m_t_pre AS DOUBLE) - CAST(m_c_post - m_c_pre AS DOUBLE)"


@query(
    "stat_diff_in_diff",
    sql=f"""
    WITH cell AS (
      SELECT (user_id % 2 = 1) AS treat,
             (CAST(ts AS DATE) >= DATE '2024-01-16') AS post,
             CAST(count(*) AS BIGINT) AS n,
             {davg_sql("value")} AS m
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT max(CASE WHEN treat AND post THEN m END) AS m_t_post,
             max(CASE WHEN treat AND NOT post THEN m END) AS m_t_pre,
             max(CASE WHEN NOT treat AND post THEN m END) AS m_c_post,
             max(CASE WHEN NOT treat AND NOT post THEN m END) AS m_c_pre,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM cell
    )
    SELECT n_events, m_t_pre, m_t_post, m_c_pre, m_c_post,
           {_DID_CELL} AS did
    FROM p
    """,
    tags=("stats", "experimentation", "causal"),
)
def stat_diff_in_diff(spark, sf_dir):
    """Difference-in-differences estimator over the 2×2 design
    (treat = odd user_id, post = second half of the month): DID =
    (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) — the
    parallel-trends causal estimate that closes the experimentation
    family (SRM guards assignment, CUPED tightens variance,
    randomization/MDE test and size it; DID handles the
    staggered-rollout case where pre-period data must absorb group
    baselines).

    Exactness: each cell mean is the deterministic `davg` (exact
    scaled-integer cents sum / count — one division); the DID combine
    is the SAME three-subtraction expression text both engines. Scale
    shape: one combinable corpus groupBy into exactly 4 cells; the
    pivot and estimate run on the 4-row frame.
    """
    ev = T(spark, sf_dir, "events")
    cell = ev.groupBy(
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date")).alias(
            "post"
        ),
    ).agg(
        F.count("*").cast("long").alias("n"),
        davg("value").alias("m"),
    )
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("m"))
    )
    p = cell.agg(
        pick(True, True).alias("m_t_post"),
        pick(True, False).alias("m_t_pre"),
        pick(False, True).alias("m_c_post"),
        pick(False, False).alias("m_c_pre"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return p.select(
        "n_events",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        F.expr(_DID_CELL).alias("did"),
    )


#: shared final expressions over (q = Σ floor(contribution·1e9), n, r, c)
#: — identical text both engines evaluate on one row, so every double
#: op is the same correctly-rounded sequence.
_CV_CHI2 = "(CAST(q AS DOUBLE) / 1e9)"
_CV_PHI2 = f"({_CV_CHI2} / CAST(n AS DOUBLE))"
_CV_V = (
    f"CASE WHEN least(r, c) <= 1 THEN NULL "
    f"ELSE sqrt({_CV_PHI2} / (least(r, c) - 1)) END"
)
_CV_PHI2C = (
    f"greatest({_CV_PHI2} - CAST((r - 1) * (c - 1) AS DOUBLE)"
    f" / CAST(n - 1 AS DOUBLE), 0.0)"
)
_CV_RC = "(CAST(r AS DOUBLE) - CAST((r - 1) * (r - 1) AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
_CV_CC = "(CAST(c AS DOUBLE) - CAST((c - 1) * (c - 1) AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
_CV_VCORR = (
    f"CASE WHEN least({_CV_RC}, {_CV_CC}) <= 1.0 THEN NULL "
    f"ELSE sqrt({_CV_PHI2C} / (least({_CV_RC}, {_CV_CC}) - 1.0)) END"
)


@query(
    "stat_cramers_v",
    sql=f"""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT o.lang, o.source, o.o,
             CAST(sum(o.o) OVER (PARTITION BY o.lang) AS BIGINT) AS rt,
             CAST(sum(o.o) OVER (PARTITION BY o.source) AS BIGINT) AS ct
      FROM o
    ),
    tot AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS r,
             CAST(count(DISTINCT source) AS BIGINT) AS c
      FROM o
    ),
    agg AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(o * n - rt * ct AS DOUBLE) * CAST(o * n - rt * ct AS DOUBLE))
               / (CAST(rt * ct AS DOUBLE) * CAST(n AS DOUBLE)) * 1e9)
             AS BIGINT)) AS BIGINT) AS q,
             max(n) AS n, max(r) AS r, max(c) AS c
      FROM m, tot
    )
    SELECT n AS n_docs, r AS n_langs, c AS n_sources,
           {_CV_CHI2} AS chi2,
           {_CV_V} AS cramers_v,
           {_CV_VCORR} AS cramers_v_corrected
    FROM agg
    """,
    tags=("stats", "effect-size", "audit"),
)
def stat_cramers_v(spark, sf_dir):
    """Cramér's V (plus the Bergsma bias-corrected Ṽ) for the
    (lang, source) contingency table — the EFFECT SIZE companion to
    `stat_chi2_lang_source`: χ² says whether language depends on
    source, V ∈ [0,1] says how much, comparable across table shapes
    and corpus sizes, and the corrected form removes the upward bias
    that makes raw V ≈ 0.2 on pure noise at small n. The number a
    mixing plan actually thresholds on.

    Exactness: cell deviations are squared in DOUBLE (exact while
    O·N < 2^53 — a far wider envelope than int64 squaring); each cell's
    χ² contribution is floor-quantized to integer nano-units and summed
    exactly (order-free), and all downstream algebra — φ², the
    bias correction, both sqrt (IEEE correctly-rounded, unlike libm
    transcendentals) — runs through ONE shared expression text on a
    single row. Scale shape: one combinable (lang, source) corpus
    groupBy; windows and the rollup run on the cell frame.
    """
    d = T(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count("*").cast("long").alias("o"))
    m = o.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).cast("long").alias("rt"),
        F.sum("o").over(Window.partitionBy("source")).cast("long").alias("ct"),
    )
    tot = o.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("c"),
    )
    qcell = F.floor(
        (
            (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("double")
            * (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("double")
            / ((F.col("rt") * F.col("ct")).cast("double") * F.col("n").cast("double"))
        )
        * 1e9
    ).cast("long")
    agg = (
        m.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(qcell).cast("long").alias("q"),
            F.max("n").alias("n"),
            F.max("r").alias("r"),
            F.max("c").alias("c"),
        )
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("r").alias("n_langs"),
        F.col("c").alias("n_sources"),
        F.expr(_CV_CHI2).alias("chi2"),
        F.expr(_CV_V).alias("cramers_v"),
        F.expr(_CV_VCORR).alias("cramers_v_corrected"),
    )


#: shared combine over (x_t, n_t, x_c, n_c) int64 — identical text both
#: engines: pooled two-proportion z statistic, sqrt is IEEE-exact.
_PZ_PT = "(CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE))"
_PZ_PC = "(CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
_PZ_POOL = "(CAST(x_t + x_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))"
_PZ_Z = (
    f"CASE WHEN n_t = 0 OR n_c = 0 OR (x_t + x_c) = 0"
    f" OR (x_t + x_c) = (n_t + n_c) THEN NULL "
    f"ELSE ({_PZ_PT} - {_PZ_PC}) / sqrt({_PZ_POOL} * (1.0 - {_PZ_POOL})"
    f" * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE))) END"
)


@query(
    "stat_two_proportion_ztest",
    sql=f"""
    WITH ud AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_t,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_c,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c
      FROM ud
    )
    SELECT x_t, n_t, x_c, n_c,
           {_PZ_PT} AS p_treat, {_PZ_PC} AS p_ctrl,
           {_PZ_Z} AS z_stat
    FROM cells
    """,
    tags=("stats", "experimentation", "proportion"),
)
def stat_two_proportion_ztest(spark, sf_dir):
    """Pooled two-proportion z-test on user-day conversion (treat = odd
    user_id, conversion = purchased that day) — the binary-outcome
    member of the experimentation family (Welch/MWU handle continuous
    metrics, SRM guards assignment, CUPED/DID adjust means; conversion
    RATES need the proportion test). Degenerate designs (empty arm,
    all-0 or all-1 outcomes) yield NULL, not a division blowup.

    Exactness: the four cells are exact int64 from ONE combinable
    (user, day) groupBy + one global rollup; every double op —
    proportions, the pooled variance, the IEEE-exact sqrt, the final
    division — runs through one shared expression text on a single
    row, so the statistic is bit-identical cross-engine. Scale shape:
    the same one-shuffle user-day collapse every funnel op uses;
    everything after is a 1-row frame.
    """
    ev = T(spark, sf_dir, "events")
    ud = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    treat = F.col("user_id") % 2 == 1
    cells = ud.agg(
        F.sum(F.when(treat, F.col("conv")).otherwise(0)).cast("long").alias("x_t"),
        F.sum(F.when(treat, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~treat, F.col("conv")).otherwise(0)).cast("long").alias("x_c"),
        F.sum(F.when(~treat, 1).otherwise(0)).cast("long").alias("n_c"),
    )
    return cells.select(
        "x_t",
        "n_t",
        "x_c",
        "n_c",
        F.expr(_PZ_PT).alias("p_treat"),
        F.expr(_PZ_PC).alias("p_ctrl"),
        F.expr(_PZ_Z).alias("z_stat"),
    )


_HTE_UPLIFT = (
    "CASE WHEN n_t = 0 OR n_c = 0 THEN NULL "
    "ELSE CAST(s_t AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE)) "
    "- CAST(s_c AS DOUBLE) / (100.0 * CAST(n_c AS DOUBLE)) END"
)


@query(
    "stat_hte_uplift_deciles",
    sql=f"""
    WITH pre AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS pre_cents
      FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
      GROUP BY user_id
    ),
    post AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS post_cents
      FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
      GROUP BY user_id
    ),
    u AS (
      SELECT p.user_id, (p.user_id % 2 = 1) AS treat,
             coalesce(post.post_cents, 0) AS y,
             CAST(row_number() OVER (ORDER BY p.pre_cents, p.user_id) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM pre p LEFT JOIN post USING (user_id)
    ),
    cells AS (
      SELECT CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile,
             CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT) AS s_t,
             CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN NOT treat THEN y ELSE 0 END) AS BIGINT) AS s_c,
             CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c
      FROM u GROUP BY 1
    )
    SELECT decile, n_t AS n_treat, n_c AS n_ctrl,
           {_HTE_UPLIFT} AS uplift
    FROM cells
    """,
    tags=("stats", "experimentation", "causal", "heterogeneous"),
)
def stat_hte_uplift_deciles(spark, sf_dir):
    """Heterogeneous treatment effect by pre-period-activity decile:
    users are deciled on pre-period spend (exact cents), and each
    decile reports treat-minus-control mean post-period spend — the
    uplift PROFILE that tells you WHO the treatment moves (whales vs
    dormant users), where `stat_diff_in_diff` gives only the average.
    Deciles use the engine-portable integer formula
    (row_number − 1)·10 div n + 1 over (pre_cents, user_id) — the RFM
    rewrite's no-ntile rule (ARCHITECTURE.md round 7): no remainder-
    distribution ambiguity, no raw timestamps, nothing an engine
    version can disagree on.

    Exactness: cents sums are exact int64; per-(decile, arm) cells are
    int64; uplift is one shared expression text (two divisions, one
    subtraction) per output row. NULL when a decile lands single-arm.
    Scale shape: two combinable per-user collapses + one users-frame
    rank window (users ≪ events; at production scale swap the global
    row_number for pre-computed percentile boundaries — documented
    trade for oracle replayability, same as `analytics_rfm_segments`).
    """
    ev = T(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    cut = F.lit("2024-01-16").cast("date")
    cents = F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
    pre = (
        ev.where(day < cut)
        .groupBy("user_id")
        .agg(cents.alias("pre_cents"))
    )
    post = (
        ev.where(day >= cut)
        .groupBy("user_id")
        .agg(cents.alias("post_cents"))
    )
    w = Window.orderBy("pre_cents", "user_id")
    u = (
        pre.join(post, "user_id", "left")
        .select(
            "user_id",
            (F.col("user_id") % 2 == 1).alias("treat"),
            F.coalesce("post_cents", F.lit(0).cast("long")).alias("y"),
            "pre_cents",
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(Window.partitionBy()).cast("long"))
    )
    cells = u.groupBy(
        F.expr("(rn - 1) * 10 div n + 1").cast("long").alias("decile")
    ).agg(
        F.sum(F.when(F.col("treat"), F.col("y")).otherwise(0)).cast("long").alias("s_t"),
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~F.col("treat"), F.col("y")).otherwise(0)).cast("long").alias("s_c"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0)).cast("long").alias("n_c"),
    )
    return cells.select(
        "decile",
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        F.expr(_HTE_UPLIFT).alias("uplift"),
    )


#: shared final expressions over exact integer rank moments — identical
#: text both engines. two_rg = 2·(sum of group mid-ranks), folded over
#: groups in explicit source order; ties = Σ(t³−t) over distinct values.
_KW_H = (
    "(12.0 * sum_r2_over_n / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))"
    " - 3.0 * CAST(n + 1 AS DOUBLE)"
)
_KW_C = "(1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
_KW_HC = (
    f"CASE WHEN ({_KW_C}) <= 0 THEN NULL ELSE ({_KW_H}) / ({_KW_C}) END"
)


@query(
    "stat_kruskal_wallis",
    sql=f"""
    WITH g AS (
      SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    v AS (
      SELECT n_chars, CAST(sum(c) AS BIGINT) AS t
      FROM g GROUP BY n_chars
    ),
    r AS (
      SELECT n_chars, t,
             CAST(sum(t) OVER (ORDER BY n_chars NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) - t AS cb
      FROM v
    ),
    grp AS (
      SELECT g.source,
             CAST(sum(g.c) AS BIGINT) AS n_g,
             CAST(sum(g.c * (2 * r.cb + r.t + 1)) AS BIGINT) AS two_rg
      FROM g JOIN r USING (n_chars)
      GROUP BY g.source
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             sum(CAST(two_rg AS DOUBLE) * CAST(two_rg AS DOUBLE)
                 / (4.0 * CAST(n_g AS DOUBLE)) ORDER BY source)
               AS sum_r2_over_n,
             (SELECT CAST(sum(t * t * t - t) AS BIGINT) FROM v) AS ties
      FROM grp
    )
    SELECT k AS k_groups, n AS n_docs, ties AS tie_cubes,
           {_KW_H} AS h_stat,
           {_KW_HC} AS h_corrected
    FROM m
    """,
    tags=("stats", "experimentation", "nonparametric"),
)
def stat_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across sources on document length — the
    nonparametric k-group sibling of `stat_anova_oneway` (rank-based,
    so length outliers can't dominate the way they dominate the
    variance decomposition), with the exact tie correction
    C = 1 − Σ(t³−t)/(N³−N). The pair completes the two-sample→k-group
    ladder: Welch/MWU generalize to ANOVA/KW.

    Exactness: global mid-ranks come from integer cumulative counts
    over distinct values (the `stat_auc_roc` bookkeeping — 2·ΣR_g is
    exact int64); the order-sensitive Σ R_g²/n_g folds in the SAME
    explicit source order both engines (Spark sorted-array aggregate ↔
    DuckDB ORDER BY-in-aggregate, the `stat_anova_oneway` pattern);
    tie cubes are exact int64 (Σt³ ≤ N³ — int64-safe through N ≈ 2e6
    docs; beyond, the t-frame pre-aggregates in DECIMAL). Scale shape:
    one combinable (source, value) groupBy, one distinct-value window,
    rollups on catalog-sized frames.
    """
    d = T(spark, sf_dir, "documents")
    g = d.groupBy("source", "n_chars").agg(F.count("*").cast("long").alias("c"))
    v = g.groupBy("n_chars").agg(F.sum("c").cast("long").alias("t"))
    w = (
        Window.orderBy(F.asc_nulls_last("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = v.select(
        "n_chars",
        "t",
        (F.sum("t").over(w).cast("long") - F.col("t")).alias("cb"),
    )
    grp = (
        g.join(r, "n_chars")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("cb") + F.col("t") + 1))
            .cast("long")
            .alias("two_rg"),
        )
    )
    ties = v.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties")
    )
    m = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_g", "two_rg"))),
            F.lit(0.0),
            lambda acc, x: acc
            + x["two_rg"].cast("double")
            * x["two_rg"].cast("double")
            / (4.0 * x["n_g"].cast("double")),
        ).alias("sum_r2_over_n"),
    ).crossJoin(F.broadcast(ties))
    return m.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_docs"),
        F.col("ties").alias("tie_cubes"),
        F.expr(_KW_H).alias("h_stat"),
        F.expr(_KW_HC).alias("h_corrected"),
    )


@query(
    "stat_levene_brown_forsythe",
    sql=f"""
    WITH med AS (
      SELECT source,
             CAST(round(2 * median(n_chars)) AS BIGINT) AS med2
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.source, abs(2 * d.n_chars - m.med2) AS z
      FROM documents d JOIN med m USING (source)
    ),
    g AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z) AS BIGINT) AS s_g,
             CAST(sum(z * z) AS BIGINT) AS ss_g
      FROM dev GROUP BY source
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(ss_g) AS BIGINT) AS ss,
             sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                 ORDER BY source) AS sum_sq_over_n
      FROM g
    )
    SELECT k AS k_groups, n AS n_docs,
           {_ANOVA_SSB} AS ss_between,
           {_ANOVA_SSW} AS ss_within,
           {_ANOVA_F} AS w_stat
    FROM m
    """,
    tags=("stats", "experimentation", "variance"),
)
def stat_levene_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe Levene test for variance homogeneity across
    sources — the PRE-TEST the k-group ladder assumes:
    `stat_anova_oneway` pools variances, and this is the check that
    pooling is legitimate (W is a one-way ANOVA on absolute deviations
    from each group's MEDIAN — the Brown-Forsythe robustification of
    Levene's mean-deviation form). Rounds out the family: Welch
    already handles the 2-group unequal-variance case; this decides
    k-group poolability.

    Exactness: deviations are EXACT integers — z = |2x − 2·median_g|,
    where 2·median is integer-valued in both engines (the exact
    middle-pair average doubled; one round() collapses the .0 double),
    so the ANOVA moments (n, Σz, Σz²) are exact int64 and the final
    combine reuses `stat_anova_oneway`'s shared expression text
    verbatim, including the source-ordered Σ s_g²/n_g fold. Scale
    shape: one groupBy for medians (exact median is a sort-based
    aggregate — at production scale swap for the quantile-sketch
    median, trading exactness), one broadcast join back, one
    combinable moment groupBy.
    """
    d = T(spark, sf_dir, "documents")
    med = d.groupBy("source").agg(
        F.round(2 * F.median("n_chars")).cast("long").alias("med2")
    )
    dev = d.join(F.broadcast(med), "source").select(
        "source", F.abs(2 * F.col("n_chars") - F.col("med2")).alias("z")
    )
    g = dev.groupBy("source").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("ss_g"),
    )
    m = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_g", "s_g"))),
            F.lit(0.0),
            lambda acc, x: acc
            + x["s_g"].cast("double") * x["s_g"].cast("double")
            / x["n_g"].cast("double"),
        ).alias("sum_sq_over_n"),
    )
    return m.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_docs"),
        F.expr(_ANOVA_SSB).alias("ss_between"),
        F.expr(_ANOVA_SSW).alias("ss_within"),
        F.expr(_ANOVA_F).alias("w_stat"),
    )
