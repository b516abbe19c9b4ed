"""Lakehouse sinks: plain date-partitioned writers and readers.

The reference writes Delta tables via ``write_deltalake(mode="append",
partition_by="date")``, rewrites query results wholesale, and compacts +
vacuums after each batch (preprocess.py:165-206,226-230). Here the
plain append/overwrite contract is ``df.write.mode(...).partitionBy("date")``
over Parquet (delta-spark is not installable in this environment, see
ARCHITECTURE.md §storage). Every mutation of an EXISTING table —
MERGE, DELETE, OPTIMIZE, VACUUM, SCD2 and CDC applies — commits through
the from-scratch Delta log in :mod:`etl_github_spark.io.delta_log`,
whose commit protocol is the only crash-safety story: files staged
without a commit are invisible and ``vacuum_delta`` reaps them. File
skipping lives there too, on add-action stats
(``snapshot_files(stats_filter=...)``, ``zorder_delta``).

The reference's append+retry design can double-append on retry
(preprocess.py:261; SURVEY.md §7 risk register), and so can a plain
append here: Spark's task retries and atomic job commit make ONE
``write`` all-or-nothing, but a driver-level retry of a parquet append
that already committed writes its rows a second time. The idempotent
path is ``delta_log.write_delta(..., txn=...)``, whose commit records
the batch's application id and version so a retried batch is a no-op
(ROADMAP item 1 moves the GH Archive ingest onto it).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMAT = "parquet"


def cluster_for_write(
    df: DataFrame, part_cols: tuple[str, ...], id_col: str
) -> DataFrame:
    """Cluster rows by the write-partition column(s) (salted by a hash
    of ``id_col``) before a ``partitionBy`` sink, so output file count
    tracks DATA VOLUME instead of ``tasks × partition-values`` (guide
    §6 "coalesce on write"): a W-task upstream frame otherwise writes
    up to W files into EVERY partition directory. The keyed repartition
    has no explicit count, so AQE coalesces the exchange by bytes — at
    fixture scale one or two write tasks (one file per partition dir);
    at 100 TB the ``pmod(xxhash64(id), defaultParallelism)`` salt keeps
    partition-value × salt keys spread so no single writer owns a whole
    partition (guide §2.5 synthetic-key spread). Layout-only: readers
    see the same rows. Shared by both persisted index stores
    (io/lsh_store, io/ivf_store)."""
    from pyspark.sql import functions as F

    w = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        *[F.col(c) for c in part_cols], F.pmod(F.xxhash64(id_col), F.lit(w))
    )


def write_sidecar(dest: str, obj) -> None:
    """Publish a JSON sidecar atomically: dump to ``<dest>.tmp``, then
    ``os.replace`` it over ``dest``, so a reader (or a crash mid-dump)
    sees the previous sidecar or the new one, never a truncated file.
    Used by both index stores and the materialized views."""
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, dest)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = ("date",),
) -> None:
    """Append/overwrite a date-partitioned table (S4/S6)."""
    w = df.write.format(_FORMAT).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """Delta/Parquet-layout table scan (S5). Without ``schema`` Spark
    infers one from the file footers, which costs a Spark job per read;
    a known ``schema`` (a ``StructType`` or DDL string) skips it. Hive
    partition columns the schema leaves out are still discovered and
    appended, and a missing ``path`` still raises."""
    reader = spark.read.format(_FORMAT)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_table_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-aware scan: `mergeSchema` unions the columns of
    every file footer so a table whose later appends ADDED columns reads
    as one frame (missing values null) — the Delta `mergeSchema=true`
    behavior on the parquet layout. Costs a footer read per file at
    planning time; use the plain scan when the schema is known-stable.
    Column REMOVAL/retyping still needs a full rewrite — same as Delta,
    which only auto-merges additive changes.
    """
    return spark.read.option("mergeSchema", "true").format(_FORMAT).load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed-table writer: pre-shuffles once so later equi-joins
    and aggregations on ``bucket_cols`` are shuffle-free — the 100 TB
    answer to repeated fact-fact joins (e.g. lineitem ⋈ orders on the
    order key)."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
