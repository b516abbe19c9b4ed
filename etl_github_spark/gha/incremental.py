"""Incremental ingest bookkeeping (SURVEY.md §2.8, T1-T4).

The reference derives its resume point from Delta add-action file stats
(max created_at of the ``comment`` table; parse_start_stop,
preprocess.py:178-190) and caps the window at now-1h so partially
published hours are never ingested (T2 — a hand-rolled completeness
watermark).

Spark equivalent: ``agg(max(created_at))`` on the sink, read with the
fixed one-column schema ``created_at TIMESTAMP`` that every GHA table
carries, so no schema-inference job runs: 2 Spark jobs per call (the
partial-max stage and the final result). On the plain Parquet lake this
is still a FULL scan of the column: Spark's DSv1 parquet path does not
answer ``max`` from footer statistics. A log-only answer needs
add-action stats (``delta_log.high_water_mark``), which ROADMAP item 1
moves the lake onto.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io.sink import read_table

EPOCH = dt.datetime(2024, 2, 29, tzinfo=dt.timezone.utc)  # reference default start
#: the one column the resume point needs, present in every GHA table
_HW_SCHEMA = "created_at TIMESTAMP"
_HOUR = dt.timedelta(hours=1)


def _ceil_hour(t: dt.datetime) -> dt.datetime:
    floored = t.replace(minute=0, second=0, microsecond=0)
    return floored if t == floored else floored + _HOUR


def high_water_mark(spark: SparkSession, table_path: str) -> dt.datetime | None:
    """max(created_at) of an ingested table (a full column scan)."""
    try:
        table = read_table(spark, table_path, schema=_HW_SCHEMA)
        row = table.agg(F.max("created_at").alias("hw")).first()
    except Exception:  # table does not exist yet → full backfill
        return None
    if row is None or row["hw"] is None:
        return None
    hw = row["hw"]
    return hw.replace(tzinfo=dt.timezone.utc) if hw.tzinfo is None else hw


def parse_start_stop(
    spark: SparkSession,
    watermark_table_path: str,
    start: dt.datetime | None = None,
    stop: dt.datetime | None = None,
    now: dt.datetime | None = None,
) -> tuple[dt.datetime, dt.datetime]:
    """Resolve the (start, stop) ingest window (preprocess.py:178-190).

    start: explicit, else ceil-hour of the sink's high-water mark, else
    the epoch default. stop: explicit, else floor-hour(now) - 1h — the
    current hour is still being published upstream (T2).
    """
    if start is None:
        hw = high_water_mark(spark, watermark_table_path)
        start = _ceil_hour(hw) if hw is not None else EPOCH
    now = now or dt.datetime.now(dt.timezone.utc)
    if stop is None:
        stop = now.replace(minute=0, second=0, microsecond=0) - _HOUR
    return start, stop
