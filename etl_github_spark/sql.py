"""SQL entry point: register the lakehouse/fixture tables as views and
run ANSI SQL through Catalyst.

A user of the reference interacts through pandas-style chains; the
engine additionally exposes the full Spark SQL surface over the same
tables — ``open_catalog(spark, sf_dir)`` then ``spark.sql(...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io.tables import TABLES, load_table
from .session import tune


def open_catalog(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> SparkSession:
    """Register each fixture/lakehouse table as a temp view."""
    tune(spark)
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: open the catalog and run a SQL query."""
    return open_catalog(spark, sf_dir).sql(query)
