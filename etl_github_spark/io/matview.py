"""Incrementally-maintained aggregate views over Delta tables.

A dashboard aggregate (counts/sums per key) over an append-only table
shouldn't re-scan history on every refresh: counts and sums are
MERGEABLE, so `refresh_view` aggregates only the rows the table's Delta
change feed (`delta_log.delta_changes`) added since the last refresh and
folds the partials into the stored view — refresh cost is O(new rows +
|view|), independent of table size and of compaction history. That is
the at-scale contract: an hourly refresh over a 100 TB table touches
one hour of data plus a keys-sized view.

The feed names new rows by log VERSION, never by listing files, so an
OPTIMIZE rewrite is skipped (its commit is ``dataChange: false``) and a
history rewrite (overwrite/delete in the range) makes the refresh RAISE
instead of silently drifting; ``full=True`` rebuilds from the current
snapshot.

The view is itself a Delta table: each refresh publishes it with ONE
overwrite commit, so a crashed refresh leaves the previous version live.
The consumed mark is the ``_view_meta.json`` sidecar — the table version
consumed and the view version holding it — written after the view
commit. A refresh that finds the view's latest version ahead of the
recorded one (a crash between the commit and the sidecar write)
rebuilds from the table's snapshot, so the mark never disagrees with
the view.

Only distributive aggregates (count, sum — and min/max if never
deleted) merge this way; avg derives as sum/count at read time.
Algebraic sketches (HLL) merge too but need sketch state, not shown
here.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta_log import (
    _latest_version,
    _next_version,
    delta_changes,
    read_delta,
    write_delta,
)
from .sink import write_sidecar

_META = "_view_meta.json"


def _consumed_version(view_path: str) -> int:
    """The table version the view holds, or -1 when the view must be
    rebuilt: no view, no sidecar, or a view committed past its mark."""
    meta_path = os.path.join(view_path, _META)
    if not os.path.exists(meta_path):
        return -1
    with open(meta_path) as fh:
        meta = json.load(fh)
    if meta.get("view_version") != _next_version(view_path) - 1:
        return -1
    return meta["delta_version"]


def refresh_view(
    spark: SparkSession,
    table: str,
    view_path: str,
    group_by: list[str],
    sum_cols: list[str] | None = None,
    full: bool = False,
) -> dict:
    """Merge-refresh the (group_by, cnt, sum_<c>...) view of the Delta
    table ``table`` from its change feed since the consumed version.
    ``full=True`` rebuilds from the current snapshot and resets the
    mark. The view's replaced files stay on disk for time travel until
    `vacuum_delta` reaps them at its default retention.

    Returns ``{"from": v, "to": v', "scanned_rows": n}``: the consumed
    version before (-1 for a rebuild) and after, and the rows read."""
    sum_cols = sum_cols or []
    last = -1 if full else _consumed_version(view_path)
    latest = _latest_version(table)
    if last >= latest:
        return {"from": last, "to": latest, "scanned_rows": 0}
    if last < 0:
        src = read_delta(spark, table, version=latest)
    else:
        src = delta_changes(spark, table, from_version=last, to_version=latest).drop(
            "_commit_version"
        )
    scanned = src.count()
    merged = src.groupBy(*group_by).agg(
        F.count("*").alias("cnt"), *[F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    )
    if last >= 0:
        merged = (
            read_view(spark, view_path)
            .unionByName(merged)
            .groupBy(*group_by)
            .agg(
                F.sum("cnt").alias("cnt"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
        )
    version = write_delta(merged, view_path, mode="overwrite")
    write_sidecar(
        os.path.join(view_path, _META),
        {"delta_version": latest, "view_version": version},
    )
    return {"from": last, "to": latest, "scanned_rows": scanned}


def read_view(spark: SparkSession, view_path: str) -> DataFrame:
    return read_delta(spark, view_path)
