"""Aggregation surface (SURVEY.md §2.5 + grouped/distinct/rollup extras).

All double reductions go through the exact decimal accumulator
(``_util.dsum``) — see registry docstring. Spark executes these as
partial (map-side) + final hash aggregates automatically; at 100 TB the
partial aggregation is what keeps shuffle volume ~|groups| not |rows|.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..minhash import words
from ._util import T, davg, davg_sql, dsum, dsum_sql, fxp, fxp_sql, par
from .registry import query


# fixed-point integer measures: price/discount/tax are exact 2-decimal
# values, so price*100, (100-disc*100), (100+tax*100) are exact integers
# and their products sum exactly (scaled by 1e4 / 1e6).
_DISC_PRICE_SQL = f"{fxp_sql('l_extendedprice')} * (100 - {fxp_sql('l_discount')})"
_CHARGE_SQL = f"{_DISC_PRICE_SQL} * (100 + {fxp_sql('l_tax')})"


@query(
    "q1_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           (CAST(sum({_DISC_PRICE_SQL}) AS BIGINT) / 10000.0) AS sum_disc_price,
           (CAST(sum({_CHARGE_SQL}) AS BIGINT) / 1000000.0) AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_discount')} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1", "tpch"),
)
def q1_pricing_summary(spark, sf_dir):
    # TPC-H Q1 shape: the headline full-scan aggregate (also bench headline).
    li = T(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp")
    )
    disc_price = fxp("l_extendedprice") * (100 - fxp("l_discount"))
    charge = disc_price * (100 + fxp("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        (F.sum(disc_price) / 10000.0).alias("sum_disc_price"),
        (F.sum(charge) / 1000000.0).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_discount").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_value_counts",
    sql="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("A1",),
)
def agg_value_counts(spark, sf_dir):
    # reference: watches.repo.value_counts() preprocess.py:215;
    # bag .frequencies(sort=True) gha.ipynb cell 12
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


@query(
    "agg_global_count",
    sql="SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem",
    tags=("A2",),
)
def agg_global_count(spark, sf_dir):
    return T(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@query(
    "agg_multi_shared_scan",
    sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship,
           {sq} AS total_qty
    FROM lineitem
    """.format(sq=dsum_sql("l_quantity")),
    tags=("A3", "A4"),
)
def agg_multi_shared_scan(spark, sf_dir):
    # reference computes 4 counts in one graph pass (gha.ipynb cell 23);
    # here: one scan, one aggregate node, five measures.
    return T(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        dsum("l_quantity").alias("total_qty"),
    )


@query(
    "agg_max_watermark",
    sql="SELECT max(ts) AS high_water FROM events",
    tags=("A4", "T1"),
)
def agg_max_watermark(spark, sf_dir):
    # reference: ingestion high-water mark from Delta file stats
    # (parse_start_stop, preprocess.py:181-186). On Parquet this resolves
    # from footer min/max statistics without a full scan.
    return T(spark, sf_dir, "events").agg(F.max("ts").alias("high_water"))


@query(
    "agg_group_multi_key",
    sql="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_group_multi_key(spark, sf_dir):
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"), F.sum("l_orderkey").alias("key_sum"))
    )


@query(
    "agg_distinct_per_group",
    sql="""
    SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_distinct_per_group(spark, sf_dir):
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


@query(
    "agg_rollup",
    sql="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_rollup(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "agg_cube",
    sql="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_cube(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "agg_stats_per_nation",
    sql=f"""
    SELECT n.n_name,
           CAST(count(s.s_suppkey) AS BIGINT) AS n_supp,
           {dsum_sql('s.s_acctbal')} AS total_bal,
           {davg_sql('s.s_acctbal')} AS avg_bal
    FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg", "join"),
)
def agg_stats_per_nation(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    s = T(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_supp"),
            dsum("s_acctbal").alias("total_bal"),
            davg("s_acctbal").alias("avg_bal"),
        )
    )


@query(
    "agg_variance_deterministic",
    sql=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           ((CAST(sum({fxp_sql('l_quantity')} * {fxp_sql('l_quantity')}) AS BIGINT) / 10000.0)
            - {dsum_sql('l_quantity')} * {dsum_sql('l_quantity')} / count(*))
           / (count(*) - 1) AS var_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_variance_deterministic(spark, sf_dir):
    # sample variance via exact integer moments (var_samp itself reduces in
    # engine-specific order → not hash-stable across engines).
    li = T(spark, sf_dir, "lineitem")
    n = F.count("*")
    s1 = dsum("l_quantity")
    s2 = F.sum(fxp("l_quantity") * fxp("l_quantity")) / 10000.0
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        ((s2 - s1 * s1 / n) / (n - 1)).alias("var_qty"),
    )


@query(
    "agg_approx_distinct_users",
    sql="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS approx_ok
    FROM events
    """,
    tags=("approx",),
)
def agg_approx_distinct_users(spark, sf_dir):
    """HLL approximate distinct with a driver-checked tolerance PIN.

    The sketch estimate itself is engine-specific (DuckDB cannot replay
    Spark's HLL), so the query emits the exact count plus ``approx_ok``
    = |approx − exact| ≤ 3·rsd·exact; the oracle computes the exact
    count and asserts TRUE. A hash match therefore verifies BOTH the
    exact cardinality AND that the sketch met its error contract — if
    the estimate drifted out of tolerance the row would flip to false
    and the driver row goes red (same pin pattern as dedup_lsh_recall).
    """
    rsd = 0.02
    agg = T(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    tol = F.ceil(F.lit(3 * rsd) * F.col("n_exact"))
    return agg.select(
        "n_exact",
        (F.abs(F.col("approx_users") - F.col("n_exact")) <= tol).alias("approx_ok"),
    )


@query(
    "agg_hll_sketch_rollup",
    sql="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS sketch_ok
    FROM events GROUP BY 1
    """,
    tags=("approx", "sketch", "trend"),
)
def agg_hll_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-DAY DataSketches HLL sketches of
    distinct users, unioned to per-WEEK estimates — the pattern that
    makes distinct-count rollups O(sketches) instead of O(rescans) at
    100 TB: persist one small sketch per partition/day once, then any
    weekly/monthly/all-time rollup is `hll_union_agg` over kilobytes.
    (`approx_count_distinct` cannot do this — its HLL++ buffer is not
    exposed as a mergeable value; `hll_sketch_agg` is.)

    Driver-checked tolerance PIN (same pattern as
    `agg_approx_distinct_users`): emits the exact weekly cardinality
    plus ``sketch_ok`` = |estimate − exact| ≤ ceil(3·rsd·exact)+1 with
    rsd = 1.04/√2¹² ≈ 1.6% at lgK=12; the oracle recomputes the exact
    side and asserts TRUE. The exact branch is the audit cost — a
    production rollup keeps only the sketch path.
    """
    lg_k = 12
    rsd = 1.04 / (2 ** (lg_k / 2))
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk")
    )
    weekly = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    tol = F.ceil(F.lit(3 * rsd) * F.col("n_exact")) + F.lit(1)
    return (
        exact.join(weekly, "week")
        .select(
            "week",
            "n_exact",
            (F.abs(F.col("approx") - F.col("n_exact")) <= tol).alias("sketch_ok"),
        )
    )


# --- time-bucketed trends (gha.ipynb cell 27 "recent trends") --------------


@query(
    "trend_daily_counts",
    sql="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
    """,
    tags=("trend",),
)
def trend_daily_counts(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "trend_hourly_by_type",
    sql="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           {sv} AS total_value
    FROM events GROUP BY 1, 2
    """.format(sv=dsum_sql("value")),
    tags=("trend",),
)
def trend_hourly_by_type(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("cnt"), dsum("value").alias("total_value"))
    )


@query(
    "trend_year_month_orders",
    sql=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(count(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice', 2)} AS revenue
    FROM orders GROUP BY 1, 2
    """,
    tags=("trend",),
)
def trend_year_month_orders(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count("*").alias("n_orders"), dsum("o_totalprice", 2).alias("revenue"))


_QSK_W = 20  # bucket width (chars)
_QSK_B = 32  # bucket count — sketch domain [0, 640)


def _qsketch_sql() -> str:
    qpick = ", ".join(
        f"CAST(min(CASE WHEN cum * 100 >= {q} * n THEN (b + 1) * {_QSK_W} END) "
        f"AS BIGINT) AS p{q}_est"
        for q in (50, 90, 99)
    )
    return f"""
    WITH sk AS (
      SELECT source, least(n_chars // {_QSK_W}, {_QSK_B - 1}) AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, least(n_chars // {_QSK_W}, {_QSK_B - 1})
    ),
    merged AS (
      SELECT source AS scope, b, cnt FROM sk
      UNION ALL
      SELECT 'GLOBAL' AS scope, b, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM sk GROUP BY b
    ),
    c AS (
      SELECT scope, b, cnt,
             sum(cnt) OVER (PARTITION BY scope ORDER BY b) AS cum,
             sum(cnt) OVER (PARTITION BY scope) AS n
      FROM merged
    )
    SELECT scope, CAST(max(n) AS BIGINT) AS n, {qpick}
    FROM c GROUP BY scope
    """


@query("agg_quantile_sketch_rollup", sql=_qsketch_sql(), tags=("agg", "sketch"))
def agg_quantile_sketch_rollup(spark, sf_dir):
    """Mergeable QUANTILE sketches with a rollup that never re-touches
    raw data: each source folds its document lengths into a 32-bucket
    equi-width histogram (the simplest mergeable quantile summary —
    same algebra as t-digest/KLL, integer-exact); the GLOBAL row is
    derived by SUMMING the per-source sketches, and every quantile
    (p50/p90/p99, reported as the covering bucket's upper bound) reads
    off a cumulative walk of bucket counts. The companion to
    `agg_hll_sketch_rollup`: distinct counts merge by OR, quantile
    histograms merge by +.

    Scale contract: the corpus collapses to |sources|×32 rows in one
    map-side-combinable aggregate; merge and quantile extraction are
    sketch-sized (window over ≤32 rows per scope). Error is bounded by
    the bucket width, the classic sketch trade — the exact sibling is
    `agg_median_exact` / `quality_equidepth_histogram`.
    """
    d = T(spark, sf_dir, "documents")
    b = F.least(F.expr(f"n_chars div {_QSK_W}"), F.lit(_QSK_B - 1)).alias("b")
    # materialize the sketch: the GLOBAL branch must MERGE these rows,
    # not re-scan the corpus (localCheckpoint = the subtree-reuse rule)
    sk = (
        d.groupBy("source", b)
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    merged = sk.select(F.col("source").alias("scope"), "b", "cnt").unionAll(
        sk.groupBy("b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .select(F.lit("GLOBAL").alias("scope"), "b", "cnt")
    )
    from pyspark.sql import Window as W

    c = merged.select(
        "scope",
        "b",
        "cnt",
        F.sum("cnt").over(W.partitionBy("scope").orderBy("b")).alias("cum"),
        F.sum("cnt").over(W.partitionBy("scope")).alias("n"),
    )
    qcols = [
        F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(q) * F.col("n"),
                (F.col("b") + 1) * _QSK_W,
            )
        )
        .cast("long")
        .alias(f"p{q}_est")
        for q in (50, 90, 99)
    ]
    return c.groupBy("scope").agg(F.max("n").cast("long").alias("n"), *qcols)


_CM_K = 4  # hash rows
_CM_M = 512  # buckets per row
_CM_TOP = 20


def _cm_bucket_sql(tok: str, j: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5({tok} || '#cm{j}'), 1, 15)) AS BIGINT)"
        f" % {_CM_M}"
    )


def _countmin_sql() -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {j} AS r, {_cm_bucket_sql('token', j)} AS b, cnt FROM cnt"
        for j in range(_CM_K)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT token, exact_cnt, {j} AS r, {_cm_bucket_sql('token', j)} AS b FROM top"
        for j in range(_CM_K)
    )
    return f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    hashed AS (
      {rows}
    ),
    sketch AS (
      SELECT r, b, CAST(sum(cnt) AS BIGINT) AS c FROM hashed GROUP BY r, b
    ),
    top AS (
      SELECT token, cnt AS exact_cnt FROM cnt
      ORDER BY cnt DESC, token LIMIT {_CM_TOP}
    ),
    probe AS (
      {probes}
    )
    SELECT p.token, CAST(max(p.exact_cnt) AS BIGINT) AS exact_cnt,
           CAST(min(s.c) AS BIGINT) AS cm_est,
           CAST(min(s.c) - max(p.exact_cnt) AS BIGINT) AS overcount
    FROM probe p JOIN sketch s ON s.r = p.r AND s.b = p.b
    GROUP BY p.token
    """


def _cm_bucket(col, j: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#cm{j}"))), 1, 15), 16, 10
        ).cast("long")
        % _CM_M
    )


@query("agg_countmin_tokens", sql=_countmin_sql(), tags=("agg", "sketch"))
def agg_countmin_tokens(spark, sf_dir):
    """COUNT-MIN sketch over the token stream with a built-in error
    audit: a 4×512 integer sketch (md5-salted hash rows — the engine-
    portable family the dedup ops use), probed at the exact top-20
    tokens so every row shows ``exact ≤ cm_est`` and the overcount the
    514-fold bucket compression costs. The third sketch family next to
    HLL (distinct) and the histogram (quantiles): mergeable frequency —
    shard sketches sum cell-wise, so a 100 TB corpus folds to
    4×512 int64 per partition and the merge is sketch-sized.

    Build rides the pre-aggregated token counts (one explode + one
    hash agg — the same map-side-combine shape as word_freq), then the
    sketch is a |vocab|→2048-row aggregate; probes broadcast. Every
    count is int64 → bit-exact parity, and the top-20 probe set is
    deterministically tie-broken (count desc, token).
    """
    tok = (
        par(T(spark, sf_dir, "documents"))
        .select(F.explode(words()).alias("token"))
    )
    cnt = (
        tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    hashed = None
    for j in range(_CM_K):
        part = cnt.select(
            F.lit(j).alias("r"), _cm_bucket(F.col("token"), j).alias("b"), "cnt"
        )
        hashed = part if hashed is None else hashed.unionAll(part)
    sketch = hashed.groupBy("r", "b").agg(F.sum("cnt").cast("long").alias("c"))
    top = (
        cnt.orderBy(F.col("cnt").desc(), "token")
        .limit(_CM_TOP)
        .select("token", F.col("cnt").alias("exact_cnt"))
    )
    probe = None
    for j in range(_CM_K):
        part = top.select(
            "token",
            "exact_cnt",
            F.lit(j).alias("r"),
            _cm_bucket(F.col("token"), j).alias("b"),
        )
        probe = part if probe is None else probe.unionAll(part)
    return (
        probe.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("token")
        .agg(
            F.max("exact_cnt").cast("long").alias("exact_cnt"),
            F.min("c").cast("long").alias("cm_est"),
            (F.min("c") - F.max("exact_cnt")).cast("long").alias("overcount"),
        )
    )


@query(
    "agg_mode_per_group",
    sql="""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT day, event_type, cnt,
             row_number() OVER (PARTITION BY day
                                ORDER BY cnt DESC, event_type) AS rn
      FROM c
    )
    SELECT day, event_type AS mode_type, cnt AS mode_cnt
    FROM r WHERE rn = 1
    """,
    tags=("agg", "mode"),
)
def agg_mode_per_group(spark, sf_dir):
    """Statistical MODE per group (most frequent event type per day)
    with a DETERMINISTIC tie-break — the pandas ``.mode()`` /
    ``value_counts().head(1)`` verb. Spark's ``mode()`` aggregate picks
    an arbitrary winner on ties (non-reproducible across runs and
    engines), so this routes through the explicit two-stage shape:
    count per (group, value), then rank-1 per group under the total
    (count desc, value) order — same answer everywhere, every time.

    Both stages are map-side combinable / tiny-partition windows; the
    distinct-value domain (|days|×|types|) bounds everything after the
    first aggregate, so the shape is corpus-scale-free past one pass.
    """
    from pyspark.sql import Window as W

    e = T(spark, sf_dir, "events")
    c = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").cast("long").alias("cnt"))
    r = c.select(
        "day",
        "event_type",
        "cnt",
        F.row_number()
        .over(W.partitionBy("day").orderBy(F.col("cnt").desc(), "event_type"))
        .alias("rn"),
    )
    return r.where(F.col("rn") == 1).select(
        "day", F.col("event_type").alias("mode_type"), F.col("cnt").alias("mode_cnt")
    )


_WMEDIAN_SQL = """
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    ),
    c AS (
      SELECT flag, price_cents, qty,
             sum(qty) OVER (PARTITION BY flag ORDER BY price_cents) AS cumw,
             sum(qty) OVER (PARTITION BY flag) AS totw
      FROM w
    )
    SELECT flag,
           CAST(min(CASE WHEN 2 * cumw >= totw THEN price_cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(sum(qty) AS BIGINT) AS total_weight
    FROM c GROUP BY flag
    """


@query("agg_weighted_median", sql=_WMEDIAN_SQL, tags=("agg", "median"))
def agg_weighted_median(spark, sf_dir):
    """Per-flag WEIGHTED median: the smallest price whose cumulative
    quantity-weight reaches half the group's total weight — the
    "median unit price per unit sold" a revenue analyst wants, where
    a 50-unit line counts 50×, not 1× (the exact-median sibling
    `agg_median_exact` weighs lines equally).

    Determinism: the cumulative window orders by price_cents with the
    default RANGE frame, so every member of a price tie-group gets the
    SAME cumulative weight (a ROWS frame would make it depend on the
    engine's tie order); the selected value is then a pure function of
    the (value → weight) distribution. All weights are exact int64
    (quantity is a whole number stored as double; price rides fxp).

    Shape: one corpus-sized per-group sort window (the price order is
    the irreducible cost of an exact weighted median), then a
    partial+final min/sum agg. At 100 TB swap in the per-partition
    weighted-histogram merge (`agg_quantile_sketch_rollup`) — this
    query is the exact oracle the sketch is audited against.
    """
    w = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        fxp("l_extendedprice").alias("price_cents"),
        fxp("l_quantity", 0).alias("qty"),
    )
    c = w.select(
        "flag",
        "price_cents",
        "qty",
        F.sum("qty")
        .over(Window.partitionBy("flag").orderBy("price_cents"))
        .alias("cumw"),
        F.sum("qty").over(Window.partitionBy("flag")).alias("totw"),
    )
    return c.groupBy("flag").agg(
        F.min(
            F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price_cents"))
        ).alias("wmedian_cents"),
        F.sum("qty").alias("total_weight"),
    )


# Higher-moment shape statistics: one shared textual expression (used
# verbatim by BOTH engines via F.expr / the oracle SQL) guarantees the
# identical IEEE evaluation order; inputs are exact int64 raw moments,
# and the only non-arithmetic op is sqrt (correctly rounded by IEEE —
# unlike pow/ln, which may differ in the last ulp between libm builds).
_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_M2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_MU} * {_MU})"
_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * {_MU} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2.0 * {_MU} * {_MU} * {_MU})"
)
_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4.0 * {_MU} * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6.0 * {_MU} * {_MU} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3.0 * {_MU} * {_MU} * {_MU} * {_MU})"
)
# constant-valued groups give m2 = 0 exactly (integer moments divide
# back to the constant), and x/0.0 is engine-version-sensitive (NULL,
# NaN, or an ANSI error depending on build) — guard to NULL instead
_SKEW_EXPR = f"CASE WHEN {_M2} = 0.0 THEN NULL ELSE {_M3} / ({_M2} * sqrt({_M2})) END"
_KURT_EXPR = f"CASE WHEN {_M2} = 0.0 THEN NULL ELSE {_M4} / ({_M2} * {_M2}) - 3.0 END"

_SHAPE_SQL = f"""
    WITH q AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    m AS (
      SELECT flag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2,
             CAST(sum(x * x * x) AS BIGINT) AS s3,
             CAST(sum(x * x * x * x) AS BIGINT) AS s4
      FROM q GROUP BY flag
    )
    SELECT flag, n,
           {_SKEW_EXPR} AS skewness,
           {_KURT_EXPR} AS kurtosis_excess
    FROM m
    """


@query("agg_skew_kurtosis", sql=_SHAPE_SQL, tags=("agg", "moments"))
def agg_skew_kurtosis(spark, sf_dir):
    """Per-group distribution SHAPE: population skewness g1 = m3/m2^1.5
    and excess kurtosis g2 = m4/m2² − 3 over quantity — the two
    moments after mean/variance that data-quality monitors track (a
    skew flip or kurtosis spike flags a source whose value
    distribution changed shape while its mean stayed put).

    Spark's built-in `skewness()`/`kurtosis()` use a streaming
    one-pass update whose float result depends on partition order —
    unusable under a cross-engine hash. Here the AGGREGATION is exact:
    Σx..Σx⁴ as int64 (quantity ≤ 50 → x⁴ ≤ 6.25e6, exact through
    ~1.4e12 rows per group), and the float part is one fixed textual
    expression evaluated identically by both engines (m2^1.5 spelled
    as m2·sqrt(m2) — sqrt is correctly rounded, pow is not).

    Shape: single scan, partial+final agg to 5 int64s per group; the
    shape math runs on |groups| rows. Map-side combine keeps shuffle
    volume at |groups| regardless of corpus size.
    """
    q = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        fxp("l_quantity", 0).alias("x"),
    )
    x = F.col("x")
    m = q.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    return m.select(
        "flag",
        "n",
        F.expr(_SKEW_EXPR).alias("skewness"),
        F.expr(_KURT_EXPR).alias("kurtosis_excess"),
    )


_RESERVOIR_K = 100


@query(
    "agg_reservoir_sample",
    sql=f"""
    SELECT doc_id, lang, source,
           md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    ORDER BY sample_key
    LIMIT {_RESERVOIR_K}
    """,
    tags=("agg", "sampling", "training-prep"),
)
def agg_reservoir_sample(spark, sf_dir):
    """Deterministic distributed uniform sample (k = 100 documents) —
    the reservoir-sampling shape every corpus inspection / eval-split /
    labeling queue starts from, made reproducible: rank every row by
    md5 of its unique key and keep the global k smallest. A hash of a
    unique id is a uniform draw, so this IS a uniform k-sample, but one
    that replays identically across engines, runs, and partitionings —
    no RNG state, no seed plumbing (the same determinism rule the
    bootstrap/minhash family follows; at 100 TB swap xxhash64 in for
    md5, one expression).

    Scale shape: orderBy(key).limit(k) plans as TakeOrderedAndProject —
    each partition keeps its local top-k heap and the driver merges
    n_partitions·k candidate rows, which is exactly the distributed
    reservoir algorithm (Vitter's Algorithm R's merge form) with ZERO
    full shuffle: no global sort, no range exchange, corpus scanned
    once. md5(doc_id) is unique, so the k-boundary is never ambiguous
    and the row set is engine-independent.
    """
    d = T(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key")
        .limit(_RESERVOIR_K)
    )
