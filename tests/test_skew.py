"""Salted aggregation/join equivalence tests (skew.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_github_spark.skew import salted_broadcast_join, salted_count


def _skewed(spark, n_hot=5000, n_tail=500):
    hot = spark.range(n_hot).select(F.lit("HOT").alias("k"), (F.col("id") % 97).alias("v"))
    tail = spark.range(n_tail).select(
        F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 31).alias("v"),
    )
    return hot.unionAll(tail)


def test_salted_count_matches_plain(spark):
    df = _skewed(spark)
    plain = {(r["k"]): r["count"] for r in df.groupBy("k").count().collect()}
    salted = {(r["k"]): r["count"] for r in salted_count(df, ["k"]).collect()}
    assert salted == plain


def test_salted_broadcast_join_matches_plain(spark):
    fact = _skewed(spark)
    dim = spark.createDataFrame(
        [("HOT", 1), ("k1", 2), ("k7", 3)], "k: string, w: long"
    )
    plain = sorted(
        tuple(r) for r in fact.join(dim, "k").select("k", "v", "w").collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_broadcast_join(fact, dim, "k").select("k", "v", "w").collect()
    )
    assert salted == plain
    # salt is deterministic: same input → same salt assignment
    from etl_github_spark.skew import with_salt

    a = with_salt(fact).groupBy("__salt").count().collect()
    b = with_salt(fact).groupBy("__salt").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salt_spreads_identical_duplicate_rows(spark):
    """Hot keys whose rows are exact duplicates must still spread across
    salt buckets — a value-only salt hash puts them all in one (the
    failure mode salting exists to fix)."""
    from etl_github_spark.skew import with_salt

    dups = spark.range(4096).select(F.lit("HOT").alias("k"), F.lit(1).alias("v"))
    n_buckets = with_salt(dups, 16).select("__salt").distinct().count()
    assert n_buckets == 16
