"""Skew mitigation utilities.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; these helpers cover the two places AQE can't: hot-key *aggregation*
fan-in and broadcast-infeasible joins against a known hot-key dimension.

Salting trades one shuffle for two balanced ones: stage 1 aggregates
(key, salt) — hot keys spread over `n_salts` reducers — stage 2 merges
the per-salt partials. Worth it only when single keys dominate entire
reducers; for uniform keys it's pure overhead, so it's an explicit
opt-in, not a default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Deterministic pseudo-random salt per row (no rand(): keeps plans
    replayable and results stable under task retries).

    The salt mixes a row-unique component (monotonically_increasing_id,
    deterministic for a given input partitioning) with the row's value
    hash: hashing values alone sends *identical* rows to one salt
    bucket, which defeats salting exactly when a hot key's rows are
    duplicates (e.g. counting repeated events)."""
    h = F.xxhash64(F.monotonically_increasing_id(), *[F.col(c) for c in df.columns])
    return df.withColumn(SALT_COL, F.pmod(h, F.lit(n_salts)))


def salted_count(df: DataFrame, keys: Sequence[str], n_salts: int = 16) -> DataFrame:
    """groupBy(keys).count() resilient to hot keys: two-stage aggregate."""
    stage1 = (
        with_salt(df, n_salts)
        .groupBy(*keys, SALT_COL)
        .agg(F.count("*").alias("__partial"))
    )
    return stage1.groupBy(*keys).agg(F.sum("__partial").alias("count"))


def salted_broadcast_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """Hot-key equi-join without moving the fact side's hot keys through
    one reducer: the fact side gets a salt, the (small) dim side is
    replicated n_salts times, and the join key becomes (key, salt).
    Use when the dim side is small enough to replicate but a plain
    broadcast is rejected (e.g. executor-memory limits)."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(SALT_COL)
    dim_rep = dim.select("*", salts)
    f = with_salt(fact, n_salts)
    joined = f.join(dim_rep, on=[key, SALT_COL], how="inner")
    return joined.drop(SALT_COL)
