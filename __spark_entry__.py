"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's "dask commits"
shape, preprocess.py:209-230, re-expressed on the fixture tables) at
sf0.001. ``queries()``/``oracle_sql()`` expose the operator library from
SURVEY.md §2 (+ north-star dedup/similarity/text ops); the driver diffs
each query against its DuckDB oracle at sf=0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_github_spark.queries import oracle_map, query_map

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return query_map()["flagship_popular_user_clicks"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return oracle_map()
