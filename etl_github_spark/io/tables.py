"""Testdata table loading.

The driver fixtures are one parquet file per table (TESTDATA.md). Loading
is a plain ``spark.read.parquet`` — Catalyst pushes filters and prunes
columns into the scan, so callers should *not* pre-materialize or cache
here; each query declares its own plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long
#: under spark.sql.legacy.parquet.nanosAsLong (session.py). Converted to
#: TimestampType here by integer-truncating to micros — the same
#: truncation DuckDB applies when narrowing ns → its native µs timestamps.
_NANOS_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, ()):
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df

