"""Incremental ingest bookkeeping (SURVEY.md §2.8, T1-T4).

The reference derives its resume point from Delta add-action file stats
(max created_at of the ``comment`` table; parse_start_stop,
preprocess.py:178-190) and caps the window at now-1h so partially
published hours are never ingested (T2 — a hand-rolled completeness
watermark).

Here the resume point runs no Spark job. Every GHA table is partitioned
by ``date = to_date(created_at)``, so ``max(created_at)`` lies in the
newest ``date=`` partition, and the driver reads that one column of that
one partition with pyarrow. The footers cannot answer it: Spark writes
timestamps as INT96, which carries no Parquet min/max statistics. The
lake must be a driver-visible POSIX path, as ``io.delta_log`` assumes.
"""

from __future__ import annotations

import datetime as dt
import os
import re

from pyspark.sql import SparkSession

EPOCH = dt.datetime(2024, 2, 29, tzinfo=dt.timezone.utc)  # reference default start
_HOUR = dt.timedelta(hours=1)
#: a partition directory of a GHA table; anything else at the table root
#: (``_temporary``, ``__HIVE_DEFAULT_PARTITION__``, staging dirs) holds
#: no committed rows of a date
_DATE_PART = re.compile(r"date=\d{4}-\d{2}-\d{2}")


def _ceil_hour(t: dt.datetime) -> dt.datetime:
    floored = t.replace(minute=0, second=0, microsecond=0)
    return floored if t == floored else floored + _HOUR


def high_water_mark(spark: SparkSession, table_path: str) -> dt.datetime | None:
    """max(created_at) of an ingested table, read on the driver from the
    newest ``date=`` partition that holds data files (no Spark job;
    ``spark`` is unused). None only when ``table_path`` does not exist
    or holds no rows; an unreadable data file raises, because treating
    it as "no table" would re-ingest every hour since :data:`EPOCH`."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        names = os.listdir(table_path)
    except FileNotFoundError:  # table does not exist yet → full backfill
        return None
    for part in sorted(filter(_DATE_PART.fullmatch, names), reverse=True):
        part_dir = os.path.join(table_path, part)
        # Spark's own rule for data files: names starting "_" or "." are
        # markers and checksums (_SUCCESS, .part-*.crc)
        files = [
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if not f.startswith(("_", "."))
        ]
        if not files:
            continue
        col = pq.read_table(
            files, columns=["created_at"], coerce_int96_timestamp_unit="us"
        )["created_at"]
        hw = pc.max(col).as_py()
        if hw is not None:  # stored as UTC instants, read back naive
            return hw.replace(tzinfo=dt.timezone.utc)
    return None


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
