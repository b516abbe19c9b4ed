"""Structured Streaming variants of the ingest + trend queries.

The reference is a micro-batch incremental pipeline wearing streaming
concepts by hand (SURVEY.md §2.8): Prefect hourly trigger (T3), Delta
high-water mark (T1), now-1h completeness cutoff (T2). Spark-native,
those map onto a file-source stream with checkpointed exactly-once
sinks, ``Trigger.AvailableNow`` for backfill-then-steady-state (T4),
and event-time watermarks for late data (T2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..gha.extract import EXTRACTORS, parse_raw_lines


def read_raw_stream(
    spark: SparkSession, indir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an NDJSON landing directory.

    Replaces the reference's hourly manifest+futures loop: new hourly
    files are discovered by the source, each processed exactly once
    (checkpoint), retries handled by the engine (T5/T6).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(indir)


def stream_ingest(
    spark: SparkSession,
    indir: str,
    outdir: str,
    checkpoint_dir: str,
    table: str = "commit",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream one normalized table from raw NDJSON to a partitioned sink.

    ``Trigger.AvailableNow`` drains everything currently landed then
    stops — the two-phase backfill→steady-state pattern (T4,
    preprocess.py:269-280) in one code path; a processing-time trigger
    turns the same query into the hourly steady state.
    """
    events = parse_raw_lines(read_raw_stream(spark, indir))
    out = EXTRACTORS[table](events)
    writer = (
        out.writeStream.format("parquet")
        .option("path", f"{outdir}/{table}")
        .option("checkpointLocation", f"{checkpoint_dir}/{table}")
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:  # pragma: no cover - steady-state mode, exercised in production
        writer = writer.trigger(processingTime="1 hour")
    return writer.start()


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


def stream_merge_sink(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...],
    partition_col: str = "date",
) -> StreamingQuery:
    """Streaming upsert: each micro-batch is MERGEd into the Delta table
    (latest version per key wins) instead of blindly appended — the
    CDC-shaped sink a mutable source needs, which plain
    ``writeStream.format("parquet")`` cannot express.

    ``foreachBatch`` hands every micro-batch to
    :func:`~etl_github_spark.io.delta_log.merge_delta_dv` — one commit,
    matched rows DV-deleted, nothing rewritten; the first batch on a
    path with no committed version creates the table with
    ``write_delta``, partitioned by ``partition_col``. The checkpoint
    makes redelivered batches re-apply, and the merge replaces each
    key's row with the same row, so that re-apply leaves the table's
    rows unchanged — exactly-once table state on at-least-once
    delivery. A batch may contain several versions of a key; the merge
    keeps the one with the highest event time.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    from ..io.delta_log import _next_version, merge_delta_dv, write_delta

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        # collapse intra-batch versions: latest ts per key
        w = Window.partitionBy(*key_cols).orderBy(
            FF.desc("created_at"), *key_cols
        )
        latest = (
            batch_df.withColumn("__rn", FF.row_number().over(w))
            .where(FF.col("__rn") == 1)
            .drop("__rn")
        )
        if _next_version(path) == 0:
            write_delta(latest, path, partition_by=(partition_col,))
        else:
            merge_delta_dv(latest.sparkSession, path, latest, on=key_cols)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_counts(
    events: DataFrame,
    gap: str = "20 minutes",
    watermark: str = "1 hour",
    group_col: str = "repo",
) -> DataFrame:
    """Event-time session windows on a stream: activity bursts separated
    by ``gap`` of silence become one row per (session, group) — the
    streaming twin of the batch ``sessionize_events`` operator, built on
    the same ``session_window`` primitive so batch and streaming agree
    on boundary semantics ([start, last+gap), half-open).

    State is bounded by the watermark: a session closes (and emits, in
    append mode) once event time passes its end + watermark; dangling
    sessions never accumulate. Session merging across micro-batches is
    handled by Spark's session-window state store — exactly the logic a
    hand-rolled lag()-based sessionizer cannot express incrementally.
    """
    return (
        events.withWatermark("created_at", watermark)
        .groupBy(F.session_window("created_at", gap).alias("w"), group_col)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
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
