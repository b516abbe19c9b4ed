"""Streaming joins: the stream-stream interval join.

A continuous ingest pipeline correlates events across streams (a click
with the view that preceded it). Stream-stream joins buffer BOTH sides
in state; watermarks plus an event-time range condition bound that
state — without the range bound the state grows forever, which is the
100 TB/day failure mode. Spark prunes each side's buffer once the
watermark passes the time-range's reach, so state is
(rate × (watermark + interval)), independent of stream lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "1 hour",
    interval: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two event streams on ``key`` where the right event lands
    inside (left_ts - interval, left_ts].

    Both sides carry a watermark; the interval condition lets Spark
    derive a state-eviction bound for each buffer (right rows older than
    watermark+interval can never match a future left row and are
    dropped). Columns must already be disambiguated by the caller —
    streaming joins reject ambiguous event-time references.

    ``how="left_outer"`` adds the unmatched-left rows with nulls on the
    right — but ONLY once the watermark proves no future right row can
    still match (wm past left_ts): outer emission is watermark-gated,
    so a bounded replay must push the watermark past the last real row
    (a sentinel batch) or the tail's outer rows never flush.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[f"r_{key}"])
        & (rw[right_ts] > lw[left_ts] - F.expr(f"INTERVAL {interval}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    return lw.join(rw, cond, how)

