"""Shared helpers for query implementations.

Cross-engine float determinism: IEEE double summation is
order-dependent, and Spark/DuckDB reduce in different orders, so every
double *reduction* here goes through exact fixed-point integers. The
fixture money/measure columns are true 2-decimal values stored as
double, so ``round(x * 10^s)`` recovers the exact scaled integer in both
engines (the double sits within ~1e-11 of the integer — never near a
rounding tie). Long sums are exact and order-insensitive, and ~2.5×
faster than Spark's BigDecimal aggregation path.

Overflow envelope: int64 carries ~9.2e18. A 2-decimal money column
(≤1e7) summed over 1e9 rows stays ≤1e18 — fine through sf100-scale
fixtures; genuinely unbounded 100 TB rollups would pre-aggregate per
partition or fall back to decimal(38,s).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.tables import load_table as T  # noqa: F401  (the query modules' loader)
from ..session import private_session, rebase


def par(df: DataFrame, n: int | None = None) -> DataFrame:
    """Spread a small single-partition scan across cores before
    compute-heavy per-row work (shingling, hashing, n-gram explode).

    The fixture parquet files are one row group, so every downstream op
    runs on one task until a shuffle; a cheap round-robin repartition
    unlocks the full local[N] (or cluster) width. Only use ahead of
    per-row work that dwarfs one extra exchange of the (small) input —
    at 100 TB inputs already arrive in thousands of partitions and
    callers would skip this.
    """
    n = n or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fxp(c: Column | str, scale: int = 2) -> Column:
    """Exact scaled-integer view of a fixed-decimal double column."""
    return F.round(_c(c) * (10**scale)).cast("long")


def fxp_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(round(({expr}) * {10 ** scale}) AS BIGINT)"


def dsum(c: Column | str, scale: int = 2) -> Column:
    """Order-insensitive (exact) sum of a fixed-decimal double column,
    returned as double — bit-identical across engines and run orders."""
    return F.sum(fxp(c, scale)) / float(10**scale)


def dsum_sql(expr: str, scale: int = 2) -> str:
    # CAST(.. AS BIGINT) collapses DuckDB's INT128 sum to int64 so the
    # int→double conversion is the same correctly-rounded op as Spark's.
    return f"(CAST(sum({fxp_sql(expr, scale)}) AS BIGINT) / {float(10 ** scale)})"


def davg(c: Column | str, scale: int = 2) -> Column:
    """Deterministic mean: exact integer sum / count, evaluated in double."""
    return dsum(c, scale) / F.count(_c(c))


def davg_sql(expr: str, scale: int = 2) -> str:
    return f"({dsum_sql(expr, scale)} / count({expr}))"


#: Target rows per shuffle task inside iterative refinement loops.
#: Originally 1M (sized for 16-32 MB of narrow int64 rows), which
#: collapsed the 1.17M-edge purchase-graph loops to 1-2 tasks of REAL
#: per-round join/aggregate work — measured SLOWER than full width
#: (graph_label_propagation 5.4 → 9 s at p=1). 100k rows keeps genuinely
#: tiny frames (CC labels, DBSCAN eps-graphs: ≤ 10k rows) at the
#: measured-optimal single task while string-keyed edge loops fan out
#: to ~½ wave (pagerank 3.9 → 3.1 s, modularity 5.5 → 4.3 s, BFS
#: 4.6 → 3.8 s at sf0.1; see OPTIMIZATION_r13.md).
_LOOP_ROWS_PER_TASK = 100_000


def loop_width(spark: SparkSession, n_rows: int) -> int:
    """Partition count for an iterative loop over a materialized frame
    of ``n_rows`` rows. The session width is sized for full scans; a
    loop's rounds are far smaller and each exchange is its own stage
    (5 CC rounds over a 4k-edge graph: 14.1 s at 32 partitions, 3.7 s
    at 1). Local rounds get one task; a 100 TB edge list fans out to
    ``rows / _LOOP_ROWS_PER_TASK`` tasks, capped at 8 waves. A loop runs
    at this width on its own session (:func:`loop_frame`), never by
    writing the caller's conf. Loops reduce with min/max/sum over exact
    types, so width is layout-only."""
    return max(1, min(int(n_rows) // _LOOP_ROWS_PER_TASK + 1,
                      spark.sparkContext.defaultParallelism * 8))


def loop_frame(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` on a private session at the loop width for ``n_rows``
    rows: the loop built on it runs at that width."""
    spark = df.sparkSession
    return rebase(df, private_session(spark, loop_width(spark, n_rows)))


_HAMMING_RADIUS = 3     # pigeonhole: d <= 3 with 4 bands => one band equal
_HAMMING_BANDS = 4
_HAMMING_BAND_BITS = 15  # 4 × 15 bits tile a 60-bit hash


def hamming_pairs(frame: DataFrame, col: str) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of ``frame``'s (doc_id,
    ``col``) rows whose 60-bit hashes (SimHash, pHash) lie within Hamming
    distance 3: 4 × 15-bit band rows per doc, a (band, bv) self-join
    (pigeonhole: a pair within distance 3 shares at least one band
    exactly), distinct
    candidates, then the xor+popcount check. ``frame`` feeds all four
    band selects — the caller checkpoints it."""
    mask = (1 << _HAMMING_BAND_BITS) - 1
    bands = None
    for b in range(_HAMMING_BANDS):
        part = frame.select(
            "doc_id",
            col,
            F.lit(b).alias("band"),
            F.shiftright(col, b * _HAMMING_BAND_BITS).bitwiseAND(F.lit(mask)).alias("bv"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b_ = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col(f"a.{col}").alias("h_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"b.{col}").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).where(
        ham <= _HAMMING_RADIUS
    )


def hamming_pairs_sql(src: str, col: str) -> str:
    """DuckDB twin of :func:`hamming_pairs` over the CTE ``src``'s
    (doc_id, ``col``) rows: the ``bands`` and ``cand`` CTEs and the
    verifying SELECT, to follow the caller's own CTEs."""
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {col}, {b} AS band,"
        f" ({col} >> {b * _HAMMING_BAND_BITS}) & {(1 << _HAMMING_BAND_BITS) - 1} AS bv"
        f" FROM {src}"
        for b in range(_HAMMING_BANDS)
    )
    return f"""
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.{col} AS h_a,
                      b.doc_id AS doc_b, b.{col} AS h_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h_a, h_b)) <= {_HAMMING_RADIUS}
    """
