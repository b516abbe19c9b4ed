"""Join surface (SURVEY.md §2.4).

The reference has exactly one join — an inner equi-join against a
pre-shrunk dim side (preprocess.py:216,220), i.e. a broadcast hash join
in intent. The engine ships the full join surface; Catalyst/AQE picks
broadcast vs sort-merge, and we hint ``broadcast()`` where the dim side
is provably small (at 100 TB the fact side never moves for those).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..minhash import MERSENNE_P, affine_coeffs
from ._util import T, fxp
from .registry import query


@query(
    "join_inner_broadcast",
    sql="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    tags=("J1",),
)
def join_inner_broadcast(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer_agg",
    sql="""
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS order_cnt
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join",),
)
def join_left_outer_agg(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@query(
    "join_semi",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
)
def join_semi(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    sql="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
)
def join_anti(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "join_full_outer",
    sql="""
    WITH supp AS (
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS supp_cnt
      FROM supplier GROUP BY s_nationkey
    )
    SELECT n.n_nationkey, n.n_name, s.supp_cnt
    FROM nation n FULL OUTER JOIN supp s ON n.n_nationkey = s.s_nationkey
    """,
    tags=("join",),
)
def join_full_outer(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("supp_cnt"))
    )
    return n.join(s, n.n_nationkey == s.s_nationkey, "full_outer").select(
        "n_nationkey", "n_name", "supp_cnt"
    )


@query(
    "join_cross",
    sql="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("join",),
)
def join_cross(spark, sf_dir):
    r = T(spark, sf_dir, "region").select("r_name")
    s = T(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@query(
    "join_multiway_dims",
    sql="""
    SELECT c.c_custkey, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    """,
    tags=("join",),
)
def join_multiway_dims(spark, sf_dir):
    # star-schema dim chain: both dims broadcast; fact side never shuffles.
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


_REV_SQL = (
    "(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0)"
)


@query(
    "join_fact_fact_revenue",
    sql=f"""
    SELECT o.o_orderkey, o.o_orderstatus,
           {_REV_SQL} AS revenue,
           CAST(count(*) AS BIGINT) AS line_cnt
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderstatus
    HAVING {_REV_SQL} > 400000
    """,
    tags=("join", "agg"),
)
def join_fact_fact_revenue(spark, sf_dir):
    # fact-fact equi-join: at scale this is a shuffle join on l_orderkey /
    # o_orderkey — bucketing both tables by the key (sink.py writer) makes
    # it shuffle-free; AQE handles skew.
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem")
    rev = F.sum(fxp("l_extendedprice") * (100 - fxp("l_discount"))) / 10000.0
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(rev.alias("revenue"), F.count("*").alias("line_cnt"))
        .where(F.col("revenue") > 400000)
    )


@query(
    "join_interval_overlap",
    sql="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 1 DAY THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sraw AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    ),
    s AS (
      SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
      FROM sraw GROUP BY user_id, sid
    ),
    c AS (
      SELECT day, day + INTERVAL 12 HOUR AS c_start, day + INTERVAL 14 HOUR AS c_end
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    )
    SELECT c.day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM s JOIN c ON s.s_start < c.c_end AND s.s_end >= c.c_start
    GROUP BY c.day
    """,
    tags=("join", "interval", "scale-path"),
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join at scale: user activity sessions (1-day-gap
    `session_window`, same semantics as `sessionize_events`) joined
    against daily campaign windows (12:00-14:00 each day) on the
    overlap predicate ``s_start < c_end AND s_end >= c_start`` — the
    ad-attribution / incident-correlation / maintenance-window shape.

    A naive inequality join is a nested loop (O(|A|·|B|)). The scale
    path BUCKETS time: each session explodes to the calendar days it
    covers (bounded fan-out — a gap-bounded session spans few days;
    at 100 TB clamp the explode with a max-span guard), the join
    becomes an EQUI-join on the day bucket (hash-partitionable,
    AQE-skew-splittable), and the exact overlap predicate refines
    within the bucket. A session meets a given day's window at most
    once, so bucketing introduces no duplicate pairs. The oracle runs
    the direct inequality join — same result, different join strategy.
    """
    e = T(spark, sf_dir, "events")
    s = e.groupBy(F.session_window("ts", "1 day").alias("w"), "user_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    days = e.select(F.to_date("ts").alias("day")).distinct()
    c = days.select(
        "day",
        (F.col("day").cast("timestamp") + F.expr("INTERVAL 12 HOURS")).alias("c_start"),
        (F.col("day").cast("timestamp") + F.expr("INTERVAL 14 HOURS")).alias("c_end"),
    )
    sb = s.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("day"),
    )
    return (
        sb.join(c, "day")
        .where((F.col("s_start") < F.col("c_end")) & (F.col("s_end") >= F.col("c_start")))
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@query(
    "join_asof_nearest",
    sql="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts FROM events
      WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT p.pid, p.user_id, p.pts, e.event_id AS vid, e.ts AS vts,
             CAST(abs(date_diff('microsecond', e.ts, p.pts)) AS BIGINT) AS gap_us,
             row_number() OVER (
               PARTITION BY p.pid
               ORDER BY abs(date_diff('microsecond', e.ts, p.pts)), e.ts, e.event_id
             ) AS rk
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.event_type = 'view'
       AND e.ts >= p.pts - INTERVAL 1 HOUR AND e.ts <= p.pts + INTERVAL 1 HOUR
    )
    SELECT p.pid, p.user_id, c.vid AS nearest_view_id, c.gap_us
    FROM p LEFT JOIN (SELECT pid, vid, gap_us FROM cand WHERE rk = 1) c
      ON c.pid = p.pid
    """,
    tags=("join", "asof", "interval"),
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST-neighbor as-of join: each purchase pairs with the view
    closest in time on EITHER side (±1 h tolerance, unmatched kept as
    NULL) — the sensor-fusion / log-alignment semantics the directional
    as-ofs can't express (`join_asof_last_view` looks only backward,
    `join_asof_next_purchase` only forward; a reading 1 s in the future
    beats one 50 min in the past). Ties break deterministically by
    (gap, ts, event_id) — the EARLIER event wins an exact tie.

    Scale shape: the tolerance bound turns the pairing into a bounded
    interval join keyed on user (same family as the attribution ops —
    never a cross of the two streams), one window per purchase picks
    rank 1, and the left join preserves unmatched purchases. The
    tolerance is the knob that bounds candidate fan-out at any scale.
    """
    e = T(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("vid"), F.col("ts").alias("vts")
    )
    hour = F.expr("INTERVAL 1 HOUR")
    # events.ts is TIMESTAMP_NTZ (UTC session) — timestampdiff handles it
    gap = F.expr("abs(timestampdiff(MICROSECOND, vts, pts))").cast("long")
    cand = (
        p.join(v, "user_id")
        .where((F.col("vts") >= F.col("pts") - hour) & (F.col("vts") <= F.col("pts") + hour))
        .select(
            "pid",
            "vid",
            gap.alias("gap_us"),
            F.row_number()
            .over(
                Window.partitionBy("pid").orderBy(
                    gap, F.col("vts"), F.col("vid")
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select("pid", F.col("vid").alias("nearest_view_id"), "gap_us")
    )
    return p.join(cand, "pid", "left").select(
        "pid", "user_id", "nearest_view_id", "gap_us"
    )


_SCD2_ASOF_SQL = """
    WITH f AS (
      SELECT o_custkey AS k, o_orderkey % 10 AS v,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    labeled AS (
      SELECT f.cents,
             CASE WHEN c.c_custkey % 3 = 0 AND f.v >= 5 THEN 'PROMO'
                  ELSE c.c_mktsegment END AS segment
      FROM f JOIN customer c ON f.k = c.c_custkey
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM labeled GROUP BY segment
    """


@query("join_scd2_asof", sql=_SCD2_ASOF_SQL, tags=("join", "scd2", "temporal"))
def join_scd2_asof(spark, sf_dir):
    """Temporal dimension lookup — the join every SCD2 table exists
    for: each fact row binds to the dimension VERSION that was valid at
    the fact's time, via ``valid_from <= t < valid_to`` (open rows have
    NULL valid_to). The versioned dimension is built in-plan from
    customer: every 3rd key changes segment to 'PROMO' at version 5, so
    facts with version time < 5 must see the OLD segment and >= 5 the
    new one — the oracle's closed form encodes exactly that split, and
    a fact bound to the wrong version (classic off-by-one on the
    interval bounds, or matching BOTH versions and double-counting)
    flips counts and revenue.

    Shape: the dimension (2 rows max per key) broadcasts; the interval
    predicate rides the hash join on the key as a residual filter —
    never a range-only join. Revenue in exact cents. At 100 TB this is
    the standard broadcast-dim temporal lookup; a fact-scale SCD2
    dimension would bucket both sides on the key first
    (join_bucketed_colocated's pattern).
    """
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        (F.col("o_orderkey") % 10).alias("v"),
        fxp("o_totalprice").alias("cents"),
    )
    c = T(spark, sf_dir, "customer")
    changed = F.col("c_custkey") % 3 == 0
    dim_v0 = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).alias("valid_from"),
        F.when(changed, F.lit(5)).otherwise(F.lit(None)).cast("int").alias("valid_to"),
    )
    dim_v1 = c.where(changed).select(
        F.col("c_custkey").alias("k"),
        F.lit("PROMO").alias("segment"),
        F.lit(5).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    dim = dim_v0.unionByName(dim_v1)
    return (
        o.join(
            F.broadcast(dim),
            (o["k"] == dim["k"])
            & (F.col("valid_from") <= F.col("v"))
            & (F.col("valid_to").isNull() | (F.col("v") < F.col("valid_to"))),
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@query(
    "join_bloom_prefilter",
    sql="""
    SELECT s.s_suppkey,
           CAST(count(*) AS BIGINT) AS n_items,
           (CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) / 10000.0) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY s.s_suppkey
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom-prefiltered fact⋈dim join — the manual form of a runtime
    semi-join reduction: the qualifying dim keys (EUROPE suppliers) are
    folded into a 64 Kbit Bloom filter embedded as a 2048-word literal,
    and the fact scan drops non-member rows with four pure-JVM bit
    probes per row BEFORE any join; the exact join then runs on the
    survivors. False positives cannot corrupt the result (the join
    removes them); a false NEGATIVE — the bug class blooms must never
    have — drops a real supplier's revenue and flips the driver hash,
    which recomputes the plain 4-way join as the oracle.

    Scale shape: a broadcast join already prunes at the join operator,
    but only AFTER the fact rows are scanned, deserialized, and (for a
    dim past the broadcast threshold) shuffled. The key bloom stays
    8 KB however wide the dim rows are or how many keys it holds, rides
    in the task binary, and cuts the fact stream to ~|matching| before
    the join machinery sees it — Spark's own
    `runtime.bloomFilter` optimization, made explicit and deterministic
    (xxhash64 keys + fixed affine positions, so the filter contents are
    run-stable; pruning effectiveness is pinned in pytest).
    """
    r = T(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = T(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = T(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")

    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    pref = bloom_prefilter(li, "l_suppkey", s, "s_suppkey")

    rev = (
        F.sum(fxp("l_extendedprice") * (100 - fxp("l_discount")))
        .cast("long") / 10000.0
    )
    return (
        pref.join(F.broadcast(s), pref.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey")
        .agg(F.count("*").cast("long").alias("n_items"), rev.alias("revenue"))
    )


_BLOOM_BITS = 1 << 16


def _bloom_coeffs():
    """The shared splitmix-derived affine family (dedup/curation use
    seeds 7/11) with its own seed, so the three sketches are
    independent but ONE generator defines them all."""
    return affine_coeffs(4, seed=13)


def _bloom_positions(h):
    return [
        ((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)) % F.lit(_BLOOM_BITS)
        for a, b in _bloom_coeffs()
    ]


def bloom_prefilter(fact, fact_col: str, keys, key_col: str):
    """Semi-join reduction: drop ``fact`` rows whose ``fact_col`` is
    provably absent from ``keys[key_col]``, using a 64 Kbit Bloom
    filter (2048-word literal, 8 KB) built from the key side. NEVER
    drops a true match (xxhash64 + the same affine positions on both
    sides); may pass false positives, so the caller's exact join stays
    the final arbiter. The position collect is |keys|·4 ints — index
    metadata. At 100 TB the filter rides in the task binary and prunes
    the fact stream before any join exchange.

    xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash differently),
    so mismatched column types would make every probe a silent false
    negative — exactly the bug class this helper promises away. The
    guard raises instead of guessing a cast."""
    f_type = fact.schema[fact_col].dataType
    k_type = keys.schema[key_col].dataType
    if f_type != k_type:
        raise TypeError(
            f"bloom_prefilter: {fact_col} is {f_type.simpleString()} but "
            f"{key_col} is {k_type.simpleString()} — xxhash64 is "
            "type-sensitive, so differing types silently drop every true "
            "match; cast one side explicitly before calling"
        )
    n_hashes = len(_bloom_coeffs())
    h_key = F.pmod(F.xxhash64(F.col(key_col)), F.lit(MERSENNE_P))
    pos_rows = (
        keys.select(F.explode(F.array(*_bloom_positions(h_key))).alias("pos"))
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_BITS // 32)
    for row in pos_rows:
        words[row["pos"] // 32] |= 1 << (row["pos"] % 32)
    warr = F.array(*[F.lit(w) for w in words])

    h_fact = F.pmod(F.xxhash64(F.col(fact_col)), F.lit(MERSENNE_P))
    aux = ["__bw"] + [f"__p{i}" for i in range(n_hashes)]
    probed = fact.select(
        "*",
        warr.alias("__bw"),
        *[p.cast("int").alias(f"__p{i}") for i, p in enumerate(_bloom_positions(h_fact))],
    )
    member = " AND ".join(
        f"((element_at(__bw, CAST(__p{i} div 32 AS INT) + 1) >> (__p{i} % 32)) % 2) = 1"
        for i in range(n_hashes)
    )
    return probed.where(F.expr(member)).drop(*aux)


_NULL_SAFE_SQL = """
    WITH keyed AS (
      SELECT event_id,
             nullif(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0)
               AS k_id
      FROM events
    ),
    freq AS (
      SELECT k_id, CAST(count(*) AS BIGINT) AS k_freq
      FROM keyed GROUP BY k_id
    )
    SELECT e.event_id, e.k_id, f.k_freq
    FROM keyed e JOIN freq f ON e.k_id IS NOT DISTINCT FROM f.k_id
    """


@query("join_null_safe_eq", sql=_NULL_SAFE_SQL, tags=("joins", "null-safe"))
def join_null_safe_eq(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): frequency-
    encode a nullable key where NULL is a real category, not a
    drop-the-row marker. The key is `nullif(props.k, 0)` — the
    "0 means unknown → NULL" cleaning rule — and a plain equi-join
    would silently drop every NULL-keyed event (NULL = NULL is NULL in
    3VL); `eqNullSafe` keeps them matched to the NULL frequency row,
    the behavior feature-encoding pipelines need.

    Shape: one agg over |keys|+1 groups, then a broadcast-able join of
    the tiny freq dim back to the fact. Spark plans eqNullSafe as a
    hash join on a null-safe key wrapper — same shuffle profile as the
    plain equi-join, no fallback to nested-loop.
    """
    keyed = T(spark, sf_dir, "events").select(
        "event_id",
        F.nullif(
            F.get_json_object("props", "$.k").try_cast("int"), F.lit(0)
        ).alias("k_id"),
    )
    freq = keyed.groupBy("k_id").agg(F.count("*").alias("k_freq"))
    return keyed.alias("e").join(
        F.broadcast(freq).alias("f"),
        F.col("e.k_id").eqNullSafe(F.col("f.k_id")),
    ).select("e.event_id", "e.k_id", "f.k_freq")
