"""Structured Streaming building blocks for the trend queries.

The reference is a micro-batch incremental pipeline wearing streaming
concepts by hand (SURVEY.md §2.8): Prefect hourly trigger (T3), Delta
high-water mark (T1), now-1h completeness cutoff (T2). The hourly
ingest itself stays the batch loop (``incremental.parse_start_stop`` +
``pipeline.ingest_files`` on an external trigger). What lives here is
the event-time watermark for late data (T2) and the exactly-once Delta
sink for a stream that feeds the lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    group_col: str = "repo",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark.

    The watermark is the principled version of the reference's
    "stop = now - 1h because the current hour is incomplete" cutoff
    (T2, preprocess.py:187-189): windows close only when event time has
    passed watermark; later events are dropped deterministically.
    """
    return (
        events.withWatermark("created_at", watermark)
        .groupBy(F.window("created_at", window).alias("w"), group_col)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "cnt",
        )
    )


def stream_delta_txn_sink(
    stream: DataFrame,
    table: str,
    checkpoint_dir: str,
    app_id: str,
    stats_cols: tuple[str, ...] = (),
) -> StreamingQuery:
    """EXACTLY-ONCE streaming append into the Delta log via the
    protocol's ``txn`` action: every micro-batch commits its data
    together with ``{"txn": {appId, version: batch_id}}``, and
    :func:`~etl_github_spark.io.delta_log.write_delta` skips any batch
    the table has already recorded at-or-above — so at-least-once
    redelivery (crash between sink commit and checkpoint advance, a
    checkpoint wiped and the whole stream replayed, a zombie executor
    re-running a batch) lands each batch's rows exactly once. This is
    how real Delta streaming sinks get exactly-once on top of an
    at-least-once engine (the idempotent-writer half of the contract;
    the version race is settled by the log's O_EXCL commit claim).

    Scale shape: the txn check is a driver-side walk of the retained
    JSON tail (O(commits), no data read); each batch pays only its own
    distributed write. Blind appends commute, so concurrent apps
    interleave freely — their txn lines are per-appId."""
    from ..io.delta_log import write_delta

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        write_delta(
            batch_df,
            table,
            stats_cols=stats_cols,
            txn=(app_id, batch_id),
            retries=10,
        )

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
