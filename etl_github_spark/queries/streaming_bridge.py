"""Structured Streaming execution under the driver hash.

The streaming modules (`streaming/*.py`) are pytest-verified — their
semantics are stateful and incremental, which a one-shot SQL oracle
cannot watch happen. But a bounded replay CAN be hashed: run the REAL
streaming machinery (file source → event-time window aggregation →
sink) over the fixture with `Trigger.AvailableNow`, let it terminate,
and compare the materialized result to the closed-form batch answer.
That pins the micro-batch engine end-to-end — source discovery,
event-time windowing, watermark bookkeeping, sink commit — not just a
batch query that happens to share the SQL shape (the same move
`lake_scd2_history` / `lake_cdc_apply` make for the mutating sinks).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import minhash as mh
from ..session import drop_clone_listener, local_frame, stream_session
from ._util import T
from .registry import query

_STATE_PARTS = 4  # state-store shards of a bounded fixture replay


@query(
    "stream_hourly_counts_replay",
    sql="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window", "bridge"),
)
def stream_hourly_counts_replay(spark, sf_dir):
    """Event-time tumbling-hour counts computed by the STREAMING engine:
    `readStream` file source over the events fixture, 1-hour windows
    with a 1-hour watermark, complete-mode memory sink, AvailableNow
    trigger — the bounded replay of `streaming/pipeline.py::
    stream_windowed_counts`, which builds the aggregation (``ts`` is
    renamed to its ``created_at`` event-time column). The oracle is the
    batch closed form, so the driver hash asserts the streaming replay
    CONVERGES to the batch answer (the streaming-batch duality every
    downstream consumer relies on). Spark's hour windows are
    epoch-aligned == date_trunc.

    In production the same plan runs unbounded with an append-mode
    parquet sink and the watermark closing windows incrementally; the
    replay form is what a backfill runs, and AvailableNow is exactly
    the backfill trigger (T3/T4, reference's catch-up loop). State is
    bounded by the watermark horizon at any corpus size; the fixture
    replay arrives as one micro-batch per file-source batch.

    ts arrives as parquet TIMESTAMP(NANOS) → long (nanosAsLong), then
    integer-truncates to micros exactly like the batch loader
    (`io/tables.py`), so streaming and batch see identical timestamps.
    """
    from ..streaming.pipeline import stream_windowed_counts

    stream = _events_stream(stream_session(spark, _STATE_PARTS), sf_dir)
    agg = stream_windowed_counts(
        stream.withColumnRenamed("ts", "created_at"), group_col="event_type"
    ).select(
        F.col("window_start").alias("hour_start"),
        "event_type",
        F.col("cnt").alias("n"),
    )
    rows = [tuple(r) for r in _replay(agg, "stream_hourly_replay")]
    return local_frame(spark, rows, "hour_start timestamp, event_type string, n long")


def _replay(agg_df, sink: str, mode: str = "complete"):
    """Run a streaming aggregation to a memory sink with AvailableNow
    and return the materialized rows. Complete mode (default) holds the
    full aggregation state, so a bounded replay converges exactly to
    the batch closed form — no append-mode watermark withholding to
    model in the oracle (production unbounded runs switch to append +
    watermark emission; the aggregation plan is identical). Update mode
    (required by arbitrary-state operators like applyInPandasWithState)
    APPENDS each batch's updates to the sink: the caller sees the whole
    update history and reduces it to the final state itself.

    ``agg_df`` is built on a `session.stream_session` child, which
    owns the sink's view and the state-partition count:
    ``_STATE_PARTS`` (the session's 32 paid 32 state stores per batch
    for a few MB of state), more for the applyInPandasWithState
    bridges, whose Python workers that count also sizes. Results are
    partition-count-invariant. The child is shared by every replay of
    its width, so the sink's query name is ``sink`` plus a unique
    suffix: concurrent replays never collide on it."""
    import uuid

    s = agg_df.sparkSession
    name = f"{sink}_{uuid.uuid4().hex}"
    q = (
        agg_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return s.table(name).collect()
    finally:
        q.stop()
        s.catalog.dropTempView(name)
        drop_clone_listener(s, q)


def _events_stream(spark, sf_dir):
    """readStream file source over the events fixture with the same
    nanos→micros timestamp narrowing as the batch loader."""
    from pyspark.sql.types import LongType

    # target the table path itself (works whether events.parquet is a
    # single file — driver fixtures — or a directory of part files); a
    # pathGlobFilter on the parent dir would silently match NOTHING for
    # the directory layout and stream an empty source, and a bare file
    # path fails FileStreamSource's basePath-must-be-a-directory check.
    # The `[e]` glob is the standard escape hatch: globs anchor basePath
    # at the parent directory while matching the file or dir either way.
    path = f"{sf_dir}/[e]vents.parquet"
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(path)
    if isinstance(raw_schema["ts"].dataType, LongType):
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


@query(
    "stream_sessionize_replay",
    sql="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 1 DAY THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "session", "bridge"),
)
def stream_sessionize_replay(spark, sf_dir):
    """STATEFUL session windows computed by the streaming engine:
    `session_window` (1-day gap) over the event stream with a
    watermark, complete-mode replay — the streaming form of
    `sessionize_events`, whose gaps-and-islands oracle this reuses
    verbatim. The driver hash therefore pins that Spark's streaming
    session-state machinery (merge-on-arrival, touching-window merge)
    converges to the batch windows exactly — including the `>` vs `>=`
    boundary rule the batch twin pins in tests/test_properties.py.

    State at scale is bounded by the watermark horizon (sessions close
    and evict once event time passes end + gap in the unbounded
    append-mode run); the bounded replay holds |open sessions| state,
    = |users| here. One shuffle on the session key either way.
    """
    stream = _events_stream(stream_session(spark, _STATE_PARTS), sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "1 day").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    rows = [tuple(r) for r in _replay(agg, "stream_sessionize")]
    return local_frame(
        spark, rows,
        "user_id long, session_start timestamp, session_end timestamp, n_events long",
    )


@query(
    "stream_dedup_replay",
    sql="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_user_days
    FROM (SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
          FROM events)
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "bridge"),
)
def stream_dedup_replay(spark, sf_dir):
    """CHAINED stateful streaming operators under the driver hash:
    watermark-bounded `dropDuplicates` on (user, type, day) feeding a
    second stateful aggregation (count per type) in one streaming
    query — the exactly-once ingestion dedup layer
    (`streaming/dedup.py::stream_dedup_exact`, day buckets) composed
    with a rollup, replayed bounded. Which physical duplicate row
    survives the dedup is engine-arbitrary, so the query aggregates to
    the duplicate-invariant count — the oracle's DISTINCT closed form —
    making the hash insensitive to survivor choice but sharp to any
    lost or double-counted key.

    At scale the dedup state is |keys within the watermark horizon|
    (day buckets make the key space bounded per day); the downstream
    agg is the usual partial+final count. Chained stateful operators
    share the micro-batch's event-time watermark.
    """
    from ..streaming.dedup import stream_dedup_exact

    stream = _events_stream(stream_session(spark, _STATE_PARTS), sf_dir)
    ded = stream_dedup_exact(
        stream, ["user_id", "event_type"], ts_col="ts", bucket="day"
    )
    agg = ded.groupBy("event_type").agg(F.count("*").cast("long").alias("n_user_days"))
    rows = [tuple(r) for r in _replay(agg, "stream_dedup")]
    return local_frame(spark, rows, "event_type string, n_user_days long")


@query(
    "stream_corpus_dedup_replay",
    sql="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    ),
    fresh AS (SELECT DISTINCT md5(text) AS fp FROM documents)
    SELECT substr(fp, 1, 1) AS bucket, CAST(count(*) AS BIGINT) AS n_new
    FROM fresh
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = fresh.fp)
    GROUP BY bucket
    """,
    tags=("streaming", "dedup", "corpus", "bridge"),
)
def stream_corpus_dedup_replay(spark, sf_dir):
    """Incremental corpus building under the driver hash: the document
    stream is deduplicated against a LANDED-CORPUS fingerprint table
    (every even doc_id stands in for the already-ingested corpus) via
    `streaming/dedup.py::stream_dedup_against_corpus` — stream-static
    LEFT ANTI on md5 fingerprints, NO forced broadcast (the fingerprint
    frame is O(corpus) rows; AQE decides — the round-10 de-broadcast
    this query exists to driver-verify), then in-stream dropDuplicates.
    Which physical duplicate survives in-stream is engine-arbitrary, so
    the replay aggregates to the survivor-invariant closed form: new
    distinct fingerprints per first-hex-digit bucket.

    At scale: the anti-join shuffles both sides on fp (or broadcasts
    when the fingerprint table genuinely fits); in-stream state is one
    md5 per unseen doc within the run (watermark-bounded when the
    stream carries event time — documents here do not, the documented
    batch-backfill mode).
    """
    from ..streaming.dedup import stream_dedup_against_corpus

    rs = stream_session(spark, _STATE_PARTS)
    schema = rs.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = rs.readStream.schema(schema).parquet(
        f"{sf_dir}/[d]ocuments.parquet"
    )
    corpus_fp = (
        T(rs, sf_dir, "documents")
        .where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    fresh = stream_dedup_against_corpus(stream, corpus_fp, text_col="text")
    agg = (
        fresh.select(F.md5("text").alias("fp"))
        .groupBy(F.substring("fp", 1, 1).alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    rows = [tuple(r) for r in _replay(agg, "stream_corpus_dedup")]
    return local_frame(spark, rows, "bucket string, n_new long")


@query(
    "stream_heavy_hitters_replay",
    sql="""
    WITH s AS (
      SELECT CAST(user_id % 100 AS VARCHAR) AS tok,
             CAST(CAST(concat('0x', substr(md5(CAST(user_id % 100 AS VARCHAR)), 1, 15))
                       AS BIGINT) % 8 AS INTEGER) AS shard
      FROM events
    )
    SELECT shard, tok, CAST(count(*) AS BIGINT) AS lower_bound,
           CAST(CAST(sum(count(*)) OVER (PARTITION BY shard) AS BIGINT)
                AS BIGINT) AS n_shard
    FROM s GROUP BY shard, tok
    """,
    tags=("streaming", "stateful", "sketch", "bridge"),
)
def stream_heavy_hitters_replay(spark, sf_dir):
    """CUSTOM GroupState code under the driver hash (r5 verdict task 7
    — until now only watermark/session/dedup built-ins carried one):
    the `applyInPandasWithState` Misra-Gries heavy-hitters operator
    (`streaming/stateful.py::token_heavy_hitters`) replayed over THREE
    forced micro-batches (maxFilesPerTrigger=1 over a 3-file split of
    the fixture's token stream), update-mode memory sink, final state
    per shard taken at its max n_shard. Each micro-batch's state must
    load, merge pandas-side counts, and re-persist for the next batch
    — a wrong state schema, a dropped counter, or a lost batch each
    flips the hash.

    Convergence contract making an exact SQL oracle possible: the
    token domain (user_id mod 100) puts ≤16 distinct tokens in every
    md5-shard (cap 32), so MG performs no evictions and its lower
    bounds ARE the exact per-(shard, token) counts regardless of batch
    order — the oracle's GROUP BY closed form. The eviction path stays
    pinned by tests/test_stateful_streaming.py (a sequential summary no
    one-shot SQL can replay). The shard key uses the engine-portable
    md5 idiom; production keeps xxhash64.

    Scale shape: state is ≤ cap counters × n_shards forever (the point
    of MG); the only shuffle is the uniform shard key. The batch twin
    `agg_heavy_hitters_mg` shares the merge math.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ..streaming.stateful import token_heavy_hitters

    rs = stream_session(spark, _STATE_PARTS)
    tok = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    base = (
        T(rs, sf_dir, "events")
        .select(
            (F.col("user_id") % 100).cast("string").alias("tok"),
            (F.col("event_id") % 3).alias("b"),
        )
        .select("tok", "b", (tok % 8).cast("int").alias("shard"))
    )
    root = tempfile.mkdtemp(prefix="stream_hh_")
    stream_dir = os.path.join(root, "in")
    os.makedirs(stream_dir)
    try:
        for b in range(3):  # one file per forced micro-batch
            part = os.path.join(root, f"stage{b}")
            base.where(F.col("b") == b).select("shard", "tok").coalesce(
                1
            ).write.mode("overwrite").parquet(part)
            os.replace(
                glob.glob(os.path.join(part, "part-*.parquet"))[0],
                os.path.join(stream_dir, f"b{b}.parquet"),
            )
        stream = (
            rs.readStream.schema("shard int, tok string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        hh = token_heavy_hitters(stream, shard_col="shard")
        rows = [tuple(r) for r in _replay(hh, "stream_hh", mode="update")]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    import collections

    latest_n = collections.defaultdict(int)
    for shard, _, _, n_shard in rows:
        latest_n[shard] = max(latest_n[shard], n_shard)
    final = [r for r in rows if r[3] == latest_n[r[0]]]
    return local_frame(
        spark, final, "shard int, tok string, lower_bound long, n_shard long"
    )


#: event-time micro-batch boundaries used by the order-sensitive
#: bridges: three slices of the 2024-01 events fixture. Slicing on
#: event time makes multi-batch processing order equal event order, so
#: cross-batch GroupState replays converge to the batch closed form.
_SLICE_US = (1704931200000000, 1705795200000000)  # 2024-01-11, 2024-01-21 UTC


#: event times of the off-range watermark SENTINEL rows (far past every
#: fixture event): the first raises the watermark past all real data,
#: the second's batch runs the eviction the first one enabled
_LATE_WM_US = 1709251200000000  # 2024-03-01 UTC — sentinel A event time
_LATE_WM2_US = 1709337600000000  # 2024-03-02 UTC — sentinel B event time


def _staged_event_stream(
    spark, sf_dir, root, cols, schema_ddl, sentinels=(), order=("b=0", "b=1", "b=2")
):
    """Stage the events fixture as a file-source stream with one file
    per micro-batch, in an explicit arrival ORDER: 'b=0', 'b=1', 'b=2'
    are the three event-time slices (split at ``_SLICE_US``), 'sent<i>'
    the i-th SENTINEL file. Files get strictly increasing mtimes in
    ``order``: FileStreamSource orders batches by modification time, so
    the default order makes batch order == event-time order, which the
    order-sensitive stateful bridges need to converge to their batch
    oracles. ``cols`` must include ts_us.

    ``sentinels`` lists the rows (tuples matching ``schema_ddl``) of
    each sentinel file. Sentinels serve two purposes (see
    stream_late_data_audit): interposing a batch so a later slice is
    judged against the watermark earlier data established (the filter
    watermark runs one batch behind the reported one), and advancing
    the final watermark so append mode flushes remaining state — the
    watermark only advances at a batch END and availableNow runs no
    closing no-data batch, so the flush needs TWO trailing sentinels:
    the first raises the watermark, the second's batch evicts. Sentinel
    files are written by pyarrow directly (driver-local, zero Spark
    jobs); FileStreamSource only needs the schema to match the DDL."""
    import glob
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = (
        T(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .select(*cols)
    )
    b_expr = (
        F.when(F.col("ts_us") < _SLICE_US[0], 0)
        .when(F.col("ts_us") < _SLICE_US[1], 1)
        .otherwise(2)
    )
    stream_dir = os.path.join(root, "in")
    os.makedirs(stream_dir)
    # ONE scan + one 3-partition shuffle writes all three slices
    # (repartition by the slice key → exactly one part file per b=
    # directory); the per-slice filter+coalesce(1) alternative costs
    # three full passes over the fixture
    stage = os.path.join(root, "stage_all")
    base.withColumn("b", b_expr).repartition(3, F.col("b")).write.partitionBy(
        "b"
    ).mode("overwrite").parquet(stage)
    arrow = {"long": pa.int64(), "bigint": pa.int64(), "string": pa.string()}
    fields = [f.strip().rsplit(" ", 1) for f in schema_ddl.split(",")]
    arrow_schema = pa.schema([(n, arrow[t.lower()]) for n, t in fields])
    for i, rows in enumerate(sentinels):
        os.makedirs(os.path.join(stage, f"sent{i}"))
        pq.write_table(
            pa.table(
                {n: [r[j] for r in rows] for j, (n, _) in enumerate(fields)},
                schema=arrow_schema,
            ),
            os.path.join(stage, f"sent{i}", "part-0.parquet"),
        )
    now = time.time()
    for i, sub in enumerate(order):
        parts = glob.glob(os.path.join(stage, sub, "part-*.parquet"))
        if len(parts) != 1:  # empty or multi-file slice breaks batch order
            raise AssertionError(f"slice {sub}: expected 1 staged file, got {parts}")
        dest = os.path.join(stream_dir, f"f{i}.parquet")
        os.replace(parts[0], dest)
        os.utime(dest, (now - 60 + i, now - 60 + i))
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


@query(
    "stream_attribution_replay",
    sql="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts_us AS p_ts
      FROM ev WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT event_id AS touch_id, user_id, event_type AS touch_type,
             ts_us AS t_ts
      FROM ev WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT p.purchase_id, t.touch_id, t.touch_type,
             p.p_ts - t.t_ts AS gap_us,
             row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY t.t_ts DESC, t.touch_id DESC
             ) AS rn
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - 3600000000
    )
    SELECT p.purchase_id, p.user_id,
           j.touch_id AS attributed_event_id,
           j.touch_type AS attributed_type,
           CAST(j.gap_us AS BIGINT) AS gap_us
    FROM purchases p
    LEFT JOIN (SELECT * FROM joined WHERE rn = 1) j USING (purchase_id)
    """,
    tags=("streaming", "stateful", "attribution", "bridge"),
)
def stream_attribution_replay(spark, sf_dir):
    """ORDER-SENSITIVE GroupState code under the driver hash: the
    `applyInPandasWithState` last-touch attribution operator
    (`streaming/stateful.py::attribution_last_touch` — per-user state
    is ONE latest-touch row) replayed over three event-time-ordered
    micro-batches, against the batch range-join oracle of
    `analytics_attribution_last_touch` verbatim.

    This is a sharper pin than the Misra-Gries bridge: MG merge is
    order-insensitive, but attribution credit depends on the exact
    interleaving of touches and purchases ACROSS batches (a touch
    processed after its purchase must not claim it; state must carry
    the newest pre-batch touch over the boundary). Event-time slicing
    makes processing order equal event order, so the streaming replay
    must reproduce the batch answer exactly — strict `<` freshness,
    the 1h window, NULL rows for unattributed purchases, and the
    (t_ts, touch_id) tie-break inside each batch's explicit sort.

    At scale: state is 3 fields per user however long the stream runs;
    each micro-batch shuffles only its own rows by user_id. The batch
    twin documents the range-join scale shape; this pins that the
    realtime form computes the same credits.
    """
    import shutil
    import tempfile

    from ..streaming.stateful import attribution_last_touch

    # per-user Python state calls are the batch cost; give the state
    # shuffle one partition per core (capped)
    rs = stream_session(spark, min(16, spark.sparkContext.defaultParallelism))
    root = tempfile.mkdtemp(prefix="stream_attr_")
    try:
        stream = _staged_event_stream(
            rs,
            sf_dir,
            root,
            ["event_id", "user_id", "event_type", "ts_us"],
            "event_id long, user_id long, event_type string, ts_us long",
        )
        rows = [
            tuple(r)
            for r in _replay(
                attribution_last_touch(stream), "stream_attr", mode="append"
            )
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows,
        "purchase_id long, user_id long, attributed_event_id long, "
        "attributed_type string, gap_us long",
    )


@query(
    "stream_spike_gate_replay",
    sql="""
    WITH b AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 1
                  WHEN ts < TIMESTAMP '2024-01-21' THEN 2
                  ELSE 3 END AS i,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(c ORDER BY i) AS cs FROM b GROUP BY 1
    ),
    rows_out AS (
      SELECT event_type, i, cs[i] AS batch_count,
             list_reduce(
               list_transform(cs[1:i], x -> CAST(x AS DOUBLE)),
               (a, x) -> CAST(0.3 AS DOUBLE) * x
                         + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * a
             ) AS ewma,
             CASE WHEN i = 1 THEN FALSE
                  ELSE CAST(cs[i] AS DOUBLE) > CAST(2.0 AS DOUBLE)
                       * list_reduce(
                           list_transform(cs[1:i-1], x -> CAST(x AS DOUBLE)),
                           (a, x) -> CAST(0.3 AS DOUBLE) * x
                                     + (CAST(1.0 AS DOUBLE)
                                        - CAST(0.3 AS DOUBLE)) * a)
             END AS is_spike
      FROM series, LATERAL unnest(generate_series(1, len(cs))) AS t(i)
    )
    SELECT event_type, batch_count, ewma, is_spike FROM rows_out
    """,
    tags=("streaming", "stateful", "monitor", "bridge"),
)
def stream_spike_gate_replay(spark, sf_dir):
    """The EWMA ingest-volume monitor (`streaming/stateful.py::
    volume_spike_gate`) under the driver hash: per event_type, each
    micro-batch's count is flagged against the pre-update EWMA of
    previous batches, then folded in (s_1 = c_1; s_t = α·c_t +
    (1−α)·s_{t−1}, α = 0.3). Replayed over the three event-time
    slices and compared to a DuckDB prefix-fold replica: the oracle's
    `list_reduce` performs literally the same left fold in the same
    order with the same double constants, so every emitted (count,
    ewma, spike-flag) row — update-mode history, one per (type,
    batch) — must match bit-exactly. Pins both the GroupState fold
    arithmetic and the flag-before-update ordering (a spike must not
    mask itself by first inflating the average it is compared to).

    Floats here are the repo-pinned replayable kind: a sequential
    left fold, never a parallel reduction (the stream processes one
    micro-batch at a time by construction — order is the operator's
    semantics, not an implementation accident).
    """
    import shutil
    import tempfile

    from ..streaming.stateful import volume_spike_gate

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_spike_")
    try:
        stream = _staged_event_stream(
            rs, sf_dir, root, ["event_type", "ts_us"], "event_type string, ts_us long"
        )
        rows = [
            tuple(r)
            for r in _replay(volume_spike_gate(stream),
                             "stream_spike", mode="update")
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "event_type string, batch_count long, ewma double, is_spike boolean"
    )


@query(
    "stream_interval_join_replay",
    sql="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           CAST(p.ts_us - c.ts_us AS BIGINT) AS gap_us
    FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM ev WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts_us > p.ts_us - 1800000000
     AND c.ts_us <= p.ts_us
    """,
    tags=("streaming", "join", "stream-stream", "bridge"),
)
def stream_interval_join_replay(spark, sf_dir):
    """STREAM-STREAM interval join under the driver hash
    (`streaming/joins.py::stream_stream_interval_join`): purchases and
    clicks arrive as two stream branches of one staged file source over
    the same three event-time slices (each branch with its own
    watermark node and state buffer — the join itself is genuinely
    stream-stream), inner-joined on user with the click inside
    (p_ts − 30 min, p_ts]. The replay's matched pairs must equal the
    batch range join exactly — which pins the property that makes
    stream-stream joins hard: a click buffered in batch b must still be
    in state when its purchase arrives in batch b+1 (the 1 h watermark
    exceeds the 30 min reach, so Spark's eviction bound — watermark
    minus interval — can never drop a click a future purchase may still
    claim). A state buffer evicted too early silently loses exactly the
    cross-batch pairs, and the hash flips.

    Scale shape: each side's state is rate × (watermark + interval) —
    independent of stream lifetime — and each micro-batch shuffles only
    its own rows by user. The batch twin is the range join; this pins
    that the continuous form computes the same pairs.
    """
    import shutil
    import tempfile

    from ..streaming.joins import stream_stream_interval_join

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_ssj_")
    try:
        cols = ["event_id", "user_id", "event_type", "ts_us"]
        ddl = "event_id long, user_id long, event_type string, ts_us long"
        src = _staged_event_stream(rs, sf_dir, root, cols, ddl)
        # ONE staged source feeds BOTH join sides (r14; guide §6 —
        # file listing/discovery and offset tracking run once per
        # micro-batch instead of twice). The join is still a genuine
        # stream-stream join: each branch carries its own watermark
        # node and its own state buffer, and with maxFilesPerTrigger=1
        # the two-source form delivered the same file to both sides in
        # every batch anyway, so batch contents — and therefore state
        # transitions and emitted pairs — are identical (ordered
        # oracle re-verified at both SFs).
        left = src.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("p_id"),
            F.timestamp_micros(F.col("ts_us")).alias("l_ts"),
        )
        right = src.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("r_id"),
            F.timestamp_micros(F.col("ts_us")).alias("r_ts"),
        )
        joined = stream_stream_interval_join(
            left, right, "user_id",
            watermark="1 hour", interval="30 minutes",
        ).select(
            F.col("p_id").alias("purchase_id"),
            F.col("r_id").alias("click_id"),
            (F.unix_micros("l_ts") - F.unix_micros("r_ts")).alias("gap_us"),
        )
        rows = [
            tuple(r)
            for r in _replay(joined, "stream_ssj", mode="append")
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "purchase_id long, click_id long, gap_us long"
    )


@query(
    "stream_outer_join_replay",
    sql="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           CAST(p.ts_us - c.ts_us AS BIGINT) AS gap_us
    FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts_us > p.ts_us - 1800000000
     AND c.ts_us <= p.ts_us
    """,
    tags=("streaming", "join", "stream-stream", "outer", "bridge"),
)
def stream_outer_join_replay(spark, sf_dir):
    """LEFT OUTER stream-stream join under the driver hash — the part
    of streaming joins inner joins never exercise: an unmatched
    purchase emits its null-click row ONLY when the watermark proves no
    future click can still match it. The replay stages the three real
    event-time slices plus two SENTINEL batches far past the last real
    event (a sentinel purchase + click on user −1 each, filtered from
    the output): they advance both sides' watermarks beyond every real
    purchase and then flush ALL pending outer rows, so the replay
    converges exactly to the batch LEFT JOIN. Lose
    state too early → matched pairs missing; never flush → null rows
    missing; flush unmatched rows that HAD matches → phantom nulls.
    Each failure flips the hash.

    Scale shape: identical to the inner form — per-side state is
    rate × (watermark + interval), each micro-batch shuffles only its
    own rows by user — plus outer-row emission bounded by watermark
    progress (the production form of "when do I stop waiting").
    """
    import shutil
    import tempfile

    from ..streaming.joins import stream_stream_interval_join

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_soj_")
    try:
        cols = ["event_id", "user_id", "event_type", "ts_us"]
        ddl = "event_id long, user_id long, event_type string, ts_us long"
        # TWO sentinel batches, each one purchase + click on user -1 far
        # past every real event: the first pushes both sides' watermarks
        # past every real purchase, the second's batch flushes every
        # pending outer row (see _staged_event_stream)
        src = _staged_event_stream(
            rs, sf_dir, root, cols, ddl,
            sentinels=[
                [(-2 * i, -1, "purchase", ts), (-2 * i - 1, -1, "click", ts)]
                for i, ts in ((1, _LATE_WM_US), (2, _LATE_WM2_US))
            ],
            order=["b=0", "b=1", "b=2", "sent0", "sent1"],
        )

        # ONE staged source feeds BOTH join sides (the interval-join
        # note): each branch keeps its own watermark node and state
        # buffer; batch contents are identical to the two-source form.
        left = src.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("p_id"),
            F.timestamp_micros(F.col("ts_us")).alias("l_ts"),
        )
        right = src.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("r_id"),
            F.timestamp_micros(F.col("ts_us")).alias("r_ts"),
        )
        # NOTE: sentinels are dropped AFTER the replay, in plain Python —
        # a `p_id >= 0` filter in the PLAN gets pushed through the outer
        # join into the left parquet scan, where row-group stats (the
        # sentinel file is all-negative ids) skip the whole file, the
        # left watermark node never sees the sentinel, and the watermark
        # stalls exactly `delay + interval` short of flushing the tail
        joined = stream_stream_interval_join(
            left, right, "user_id",
            watermark="1 hour", interval="30 minutes", how="left_outer",
        ).select(
            F.col("p_id").alias("purchase_id"),
            F.col("r_id").alias("click_id"),
            (F.unix_micros("l_ts") - F.unix_micros("r_ts")).alias("gap_us"),
        )
        rows = [
            tuple(r)
            for r in _replay(joined, "stream_soj", mode="append")
            if r["purchase_id"] >= 0
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "purchase_id long, click_id long, gap_us long"
    )


@query(
    "stream_delta_sink_exactly_once",
    sql="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "lake", "delta", "exactly-once", "txn", "bridge"),
)
def stream_delta_sink_exactly_once(spark, sf_dir):
    """EXACTLY-ONCE under the driver hash: the events fixture streams
    through `streaming/pipeline.py::stream_delta_txn_sink` into a
    scratch Delta table — three micro-batches, each committed WITH the
    protocol's ``txn`` action — then the ENTIRE STREAM RUNS AGAIN from
    a fresh checkpoint (the worst redelivery case: every batch replays)
    and, for good measure, one batch is re-committed directly. The
    table must hold each row exactly once — the rollup hashes against
    the plain batch closed form, so any double-applied batch flips
    n_rows and sum_event_id. In-query assertions additionally pin that
    run 2 committed NOTHING (version count unchanged) and that the
    txn high-water mark reads back per app.

    Scale shape: idempotency costs a driver-side JSON-tail walk per
    batch — no data read, no table scan; the failure mode it kills
    (checkpoint/sink disagreement after a crash) is otherwise
    unfixable at any scale without rewriting the table.
    """
    import shutil
    import tempfile

    from ..io.delta_log import (
        _latest_version,
        last_txn_version,
        read_delta,
        write_delta,
    )
    from ..streaming.pipeline import stream_delta_txn_sink

    root = tempfile.mkdtemp(prefix="stream_eo_")
    table = f"{root}/tbl"
    try:
        cols = ["event_id", "event_type", "ts_us"]
        ddl = "event_id long, event_type string, ts_us long"
        for run in (1, 2):  # run 2 = full replay from a fresh checkpoint
            src = (
                _staged_event_stream(spark, sf_dir, root, cols, ddl)
                if run == 1
                else spark.readStream.schema(ddl)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{root}/in")
            )
            q = stream_delta_txn_sink(
                src.select("event_id", "event_type"),
                table,
                f"{root}/ckpt{run}",
                app_id="ingest",
            )
            q.awaitTermination()
            q.stop()
            if run == 1:
                v_after_first = _latest_version(table)
        assert _latest_version(table) == v_after_first, "replay re-committed"
        assert last_txn_version(table, "ingest") == 2
        assert last_txn_version(table, "other-app") is None
        # a direct duplicate of batch 1 is also skipped
        dup = read_delta(spark, table).limit(5)
        assert write_delta(dup, table, txn=("ingest", 1)) is None
        out = (
            read_delta(spark, table)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
            )
        )
        rows = [tuple(r) for r in out.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "event_type string, n_rows long, sum_event_id long"
    )


@query(
    "stream_delta_source_replay",
    sql="""
    WITH ev AS (
      SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    tagged AS (
      SELECT event_id, event_type,
             CASE WHEN ts_us < 1704931200000000 THEN 1
                  WHEN ts_us < 1705795200000000 THEN 2
                  ELSE 3 END AS commit_version
      FROM ev
    )
    SELECT CAST(commit_version AS BIGINT) AS commit_version, event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
    FROM tagged GROUP BY commit_version, event_type
    """,
    tags=("streaming", "lake", "delta", "source", "bridge"),
)
def stream_delta_source_replay(spark, sf_dir):
    """Delta table consumed AS A STREAM under the driver hash — the
    read-side twin of the exactly-once sink: three event-time slices
    land as three Delta commits (versions 1–3 after the empty create),
    then the LOG (not a directory listing) enumerates each commit's
    data files in commit order and feeds them to the real file-source
    streaming engine one micro-batch per commit; rows re-acquire their
    commit version by joining `_metadata.file_name` against a
    broadcast file→version map derived from the same log — exactly how
    a Delta streaming source attributes rows to log offsets. The
    per-(version, type) rollup hashes against the closed form; a
    misattributed file or a wrong/partial log enumeration flips the
    hash. (Bound honestly: the complete-mode rollup is order-
    insensitive, so delivery ORDER is exercised but not hash-pinned,
    and maxFilesPerTrigger batches FILES — one batch per commit holds
    because each commit here stages exactly one file.)

    Scale shape: the source's incremental state is a log OFFSET — per
    micro-batch cost is the new commit's files only, never a listing
    of the table (the property that makes Delta-as-a-source scale
    where file-listing sources die at millions of objects).
    """
    import os
    import shutil
    import tempfile
    import time

    from ..io.delta_log import write_delta

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_dsrc_")
    table = os.path.join(root, "tbl")
    try:
        base = T(rs, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        b_expr = (
            F.when(F.col("ts_us") < _SLICE_US[0], 1)
            .when(F.col("ts_us") < _SLICE_US[1], 2)
            .otherwise(3)
        )
        # an empty create (version 0), then one commit per slice
        write_delta(
            base.where(F.lit(False)).select("event_id", "event_type"), table
        )
        for b in (1, 2, 3):
            write_delta(
                base.where(b_expr == b).select("event_id", "event_type"),
                table,
            )
        # the LOG enumerates each commit's files (commit order = the
        # stream's offset order); stage them with monotone mtimes so
        # FileStreamSource delivers one commit per micro-batch
        from ..io.delta_log import _actions, _list_versions

        file_version = {
            os.path.basename(a["add"]["path"]): v
            for v in _list_versions(table)
            for a in _actions(table, v)
            if "add" in a
        }
        stream_dir = os.path.join(root, "in")
        os.makedirs(stream_dir)
        now = time.time()
        for name, v in sorted(file_version.items(), key=lambda kv: kv[1]):
            dest = os.path.join(stream_dir, name)
            os.link(os.path.join(table, name), dest)
            os.utime(dest, (now + 30 * v,) * 2)
        vmap = local_frame(
            rs, list(file_version.items()), "fname string, commit_version long"
        )
        src = (
            rs.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .select(
                "event_id",
                "event_type",
                F.col("_metadata.file_name").alias("fname"),
            )
        )
        agg = (
            src.join(F.broadcast(vmap), "fname")
            .groupBy("commit_version", "event_type")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
            )
        )
        rows = [
            tuple(r)
            for r in _replay(agg, "stream_dsrc", mode="complete")
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows,
        "commit_version long, event_type string, n_rows long, sum_event_id long",
    )


@query(
    "stream_scd2_replay",
    sql=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(ts) * 4096 + event_id % 4096 AS seq,
             CASE WHEN epoch_us(ts) < {_SLICE_US[0]} THEN 0
                  WHEN epoch_us(ts) < {_SLICE_US[1]} THEN 1
                  ELSE 2 END AS b
      FROM events
    ),
    v AS (SELECT b, CAST(max(seq) AS BIGINT) AS vb FROM ev GROUP BY b),
    latest AS (
      SELECT user_id, b, event_type AS tier
      FROM (SELECT user_id, b, event_type,
                   row_number() OVER (PARTITION BY user_id, b
                                      ORDER BY seq DESC) AS rn
            FROM ev) t
      WHERE rn = 1
    ),
    s AS (
      SELECT user_id,
             max(CASE WHEN b = 0 THEN tier END) AS t0,
             max(CASE WHEN b = 1 THEN tier END) AS t1,
             max(CASE WHEN b = 2 THEN tier END) AS t2
      FROM latest GROUP BY user_id
    ),
    vs AS (
      SELECT (SELECT vb FROM v WHERE b = 0) AS v0,
             (SELECT vb FROM v WHERE b = 1) AS v1,
             (SELECT vb FROM v WHERE b = 2) AS v2
    )
    SELECT user_id, t0 AS tier, v0 AS valid_from,
           CASE WHEN t1 IS NOT NULL AND t1 <> t0 THEN v1
                WHEN coalesce(t1, t0) = t0 AND t2 IS NOT NULL AND t2 <> t0
                  THEN v2 END AS valid_to,
           CASE WHEN (t1 IS NOT NULL AND t1 <> t0)
                  OR (coalesce(t1, t0) = t0 AND t2 IS NOT NULL AND t2 <> t0)
                THEN 0 ELSE 1 END AS is_current
    FROM s CROSS JOIN vs WHERE t0 IS NOT NULL
    UNION ALL
    SELECT user_id, t1, v1,
           CASE WHEN t2 IS NOT NULL AND t2 <> t1 THEN v2 END,
           CASE WHEN t2 IS NOT NULL AND t2 <> t1 THEN 0 ELSE 1 END
    FROM s CROSS JOIN vs
    WHERE t1 IS NOT NULL AND (t0 IS NULL OR t1 <> t0)
    UNION ALL
    SELECT user_id, t2, v2, CAST(NULL AS BIGINT), 1
    FROM s CROSS JOIN vs
    WHERE t2 IS NOT NULL
      AND (coalesce(t1, t0) IS NULL OR t2 <> coalesce(t1, t0))
    """,
    tags=("streaming", "scd2", "bridge"),
)
def stream_scd2_replay(spark, sf_dir):
    """The streaming SCD2 dimension sink under the driver hash: replay
    the events fixture as three event-time-ordered micro-batches
    through `streaming/cdc.py::stream_scd2_sink` (foreachBatch →
    `streaming/cdc.py::scd2_apply`, tier = the user's latest event_type
    per batch, version = the batch's max event-time seq) into a Delta
    dimension, and return the FULL resulting snapshot — every open and
    closed history row.

    The oracle is the SCD2 fold written as a closed form over the
    same three slices: per user, the batch-latest tier chain
    (t0 → t1 → t2) opens a row when the value CHANGES (scd2_apply's
    unchanged-value no-op rule — coalesce walks the carry-forward),
    closes the predecessor at the closing batch's global version
    stamp, and leaves exactly one is_current row per user. This pins
    the pieces pytest alone asserted before this round: bootstrap
    stamps all first-batch keys at v0, closes stamp the CLOSING
    batch's version (not the row's own), unchanged churn inserts
    nothing, and a brand-new key in a later batch opens without
    closing anything.

    At scale: each micro-batch shuffles only its own rows by key and
    lands as one Delta commit (closing rows replace their open rows
    through deletion vectors, new open rows append — nothing is
    rewritten); the unchanged-value no-op rule makes redelivered
    batches idempotent — replayed here via availableNow over the same
    checkpoint dir the production job would use.
    """
    import shutil
    import tempfile

    from ..io.delta_log import read_delta
    from ..streaming.cdc import stream_scd2_sink

    root = tempfile.mkdtemp(prefix="stream_scd2_")
    try:
        stream = _staged_event_stream(
            spark,
            sf_dir,
            root,
            ["event_id", "user_id", "event_type", "ts_us"],
            "event_id long, user_id long, event_type string, ts_us long",
        )
        # seq widens event time with an event_id low word: fixture
        # timestamps are tie-free per user, but the sink's
        # _latest_per_key contract requires a UNIQUE winning seq per
        # (key, batch) and raises on violation — the composite keeps
        # that guard unreachable for same-microsecond pairs (ids would
        # have to collide mod 4096 too, and even then it fails loudly,
        # never silently). 2024-epoch micros × 4096 ≈ 7e18 < int64 max.
        changes = stream.select(
            "user_id",
            F.col("event_type").alias("tier"),
            (F.col("ts_us") * 4096 + F.col("event_id") % 4096).alias("seq"),
        )
        table = f"{root}/dim"
        q = stream_scd2_sink(
            changes,
            table,
            f"{root}/ckpt",
            key_col="user_id",
            attr_cols=("tier",),
            seq_col="seq",
        )
        q.awaitTermination()
        rows = [
            tuple(r)
            for r in read_delta(spark, table)
            .select("user_id", "tier", "valid_from", "valid_to", "is_current")
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows,
        "user_id long, tier string, valid_from long, valid_to long, "
        "is_current int",
    )


@query(
    "stream_late_data_audit",
    sql="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events, mx
    WHERE NOT (ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
               AND date_trunc('hour', ts) + INTERVAL 1 HOUR
                   <= m - INTERVAL 14 DAY)
    GROUP BY 1, 2
    """,
    tags=("streaming", "watermark", "late-data", "bridge"),
)
def stream_late_data_audit(spark, sf_dir):
    """Watermark LATE-DATA DROP accounting under the driver hash — the
    one streaming behavior none of the other bridges exercises, because
    their slices arrive in event-time order and nothing is ever late.
    Here the middle ten days of events arrive AFTER the tail of the
    month: hourly append-mode counts with a 14-day watermark delay must
    drop exactly the late rows whose HOUR WINDOW ENDS at or below
    max(ts) − 14 days, and keep the rest (their windows are still open
    when they arrive). The oracle states that closed form, so the
    driver hash pins three things at once: the drop predicate is on the
    window END (not the row's event time — models disagree at sf0.01
    and only window-end matches), the admission watermark is the one
    the PREVIOUS completed batch established (the one-batch stall the
    outer-join replay also pins), and accepted-late contributions merge
    into their original hour groups rather than forking new ones.

    Sentinel mechanics: off-range '__wm' rows interpose the judging
    batch and flush the survivors; they are removed AFTER the replay
    materializes (a `.where` in the streaming plan would push through
    the aggregation into the parquet scan, row-group stats would skip
    the sentinel file entirely, and the watermark would never advance —
    the silent-vacuous failure mode this module refuses elsewhere).

    At scale: watermark state is bounded by the delay horizon whatever
    the corpus size; the audit itself is the streaming twin of a batch
    filter + rollup. The measured cost model is in ARCHITECTURE.md's
    streaming-replay section (state shards pinned small per bounded
    replay).
    """
    import shutil
    import tempfile

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_late_")
    try:
        stream = _staged_event_stream(
            rs, sf_dir, root,
            cols=["event_id", "event_type", "ts_us"],
            schema_ddl="event_id long, event_type string, ts_us long",
            sentinels=[[(-1, "__wm", _LATE_WM_US)], [(-1, "__wm", _LATE_WM2_US)]],
            # the middle slice arrives after the tail, behind a sentinel
            order=["b=0", "b=2", "sent0", "b=1", "sent1"],
        )
        agg = (
            stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("ts", "14 days")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.col("w.start").alias("hour_start"), "event_type", "n")
        )
        rows = [
            tuple(r)
            for r in _replay(agg, "stream_late", mode="append")
            if r["event_type"] != "__wm"
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "hour_start timestamp, event_type string, n long"
    )


@query(
    "stream_session_append_replay",
    sql="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 1 DAY THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM e
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "stateful", "sessionize", "append", "bridge"),
)
def stream_session_append_replay(spark, sf_dir):
    """Session windows under APPEND-mode emission — the production
    shape `stream_sessionize_replay` (complete mode) deliberately
    sidesteps: a session row may only reach the sink after the
    watermark proves no future event can extend or merge it (event
    time past end + gap). Three event-time slices build the sessions
    across micro-batch boundaries, and they do NOT arrive in event-time
    order: the early slice (before 2024-01-11) first, then the tail
    (2024-01-21 on), then the middle ten days. The middle slice is not
    dropped as late only because the late-row filter uses the watermark
    one batch behind the reported one (the stall `_staged_event_stream`
    documents): it is judged against the early slice's watermark, not
    the tail's, and joins the sessions still in state. Cross-batch
    EXTENSION of an open session and merge-on-arrival both happen
    mid-stream. Two off-range sentinels then walk the watermark past
    every real session so the closed set flushes before the bounded
    replay ends. The oracle is the batch gaps-and-islands closed form
    verbatim: a session emitted early (before its gap was provably
    over), split at a batch boundary, or withheld at the end each
    flips the hash.

    At scale: append mode is what an unbounded run writes to real
    sinks — state holds only OPEN sessions (bounded by the watermark
    horizon) and each emission is final, exactly once.
    """
    import shutil
    import tempfile

    rs = stream_session(spark, _STATE_PARTS)
    root = tempfile.mkdtemp(prefix="stream_sess_append_")
    try:
        stream = _staged_event_stream(
            rs, sf_dir, root,
            cols=["event_id", "user_id", "ts_us"],
            schema_ddl="event_id long, user_id long, ts_us long",
            sentinels=[[(-1, -1, _LATE_WM_US)], [(-1, -1, _LATE_WM2_US)]],
            order=["b=0", "b=2", "b=1", "sent0", "sent1"],
        )
        agg = (
            stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "1 day").alias("w"), "user_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count("*").cast("long").alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
        )
        rows = [
            tuple(r)
            for r in _replay(agg, "stream_sess_append", mode="append")
            if r["user_id"] >= 0
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows,
        "user_id long, session_start timestamp, session_end timestamp, n_events long",
    )


@query(
    "stream_neardup_replay",
    sql=mh.judge_sql("doc_id % 2 = 1", "doc_id % 2 = 0"),
    tags=("streaming", "dedup", "neardup", "lsh", "bridge"),
)
def stream_neardup_replay(spark, sf_dir):
    """Streaming NEAR-dup detection against a landed corpus, under the
    driver hash: odd-doc_id documents stream in; the even half is the
    already-landed corpus whose banded-MinHash index
    (`minhash.split_bands`, the SAME md5/affine family as the batch
    `dedup_minhash_lsh`) sits as the static join side.
    `streaming/dedup.py::stream_neardup_against_corpus` computes each
    arriving doc's signature map-side, collides it with the index on
    (band, bucket), and aggregates the per-doc max signature agreement
    into a deterministic verdict row — kept ⇔ agree·2 < 32, the integer
    form of est_jaccard < 0.5. No survivor arbitrariness exists (the
    corpus is static, in-stream order is irrelevant to a per-doc max),
    so the oracle replays every verdict exactly, not just invariant
    rollups — the driver hash covers the full fuzzy-judgment pipeline:
    shingles, signatures, banding, collision, agreement, threshold.

    Scale shape: signature+banding is map-side on the stream; the
    stream-static join shuffles on (band, bucket) or broadcasts when
    the index genuinely fits (no hint — same rule as the exact layer);
    state is one (doc, max) pair per in-flight doc, watermark-bounded
    when the stream carries event time.
    """
    from ..streaming.dedup import stream_neardup_against_corpus

    rs = stream_session(spark, _STATE_PARTS)
    schema = rs.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        rs.readStream.schema(schema)
        .parquet(f"{sf_dir}/[d]ocuments.parquet")
        .where(F.col("doc_id") % 2 == 1)
    )
    corpus = T(rs, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    # the lsh_store layout: skinny band rows + sigs stored once per doc
    corpus_bands, corpus_sigs = mh.split_bands(corpus)
    out = stream_neardup_against_corpus(stream, corpus_bands, corpus_sigs)
    rows = [tuple(r) for r in _replay(out, "stream_neardup")]
    return local_frame(spark, rows, "doc_id long, max_agree long, kept boolean")


#: synthetic event-time base for the documents stream (2024-01-01 UTC)
_DOC_TS_BASE_US = 1704067200000000
_DOC_TS_MOD = 4  # docs spread over 4 one-hour windows


def _neardup_eventtime_sql() -> str:
    """DuckDB twin of :func:`stream_neardup_eventtime_replay`: the same
    sig/bands/collision/verdict chain as `stream_neardup_replay`'s, plus
    the synthetic event-time window start each doc's verdict is keyed
    by — ts = 2024-01-01 + (doc_id % 4) hours lands exactly on hour
    boundaries, so window_start IS the doc's timestamp (both engines
    state that closed form; the session runs UTC so Spark's
    timestamp_micros arithmetic matches DuckDB's naive TIMESTAMP)."""
    return f"""
    SELECT doc_id,
           TIMESTAMP '2024-01-01 00:00:00'
             + (doc_id % {_DOC_TS_MOD}) * INTERVAL 1 HOUR AS window_start,
           max_agree, kept
    FROM ({mh.judge_sql("doc_id % 2 = 1", "doc_id % 2 = 0")})
    """


@query(
    "stream_neardup_eventtime_replay",
    sql=_neardup_eventtime_sql(),
    tags=("streaming", "dedup", "neardup", "lsh", "watermark", "append", "bridge"),
)
def stream_neardup_eventtime_replay(spark, sf_dir):
    """The APPEND-MODE watermark path of streaming near-dup detection
    under the driver hash — the production shape
    `stream_neardup_replay`'s complete-mode replay deliberately
    sidesteps: `streaming/dedup.py::stream_neardup_against_corpus_
    eventtime` runs the per-doc max-agreement aggregation under an
    event-time watermark, so each (window, doc) verdict reaches the
    sink exactly once, when the watermark closes its window, and the
    state store holds only open windows (eviction pinned batch-by-batch
    in `tests/test_streaming_dedup.py`; bounded-by-horizon at 100 TB/day
    where the complete-mode form's state grows with stream length).

    Event time is synthetic but deterministic — ts = 2024-01-01 +
    (doc_id % 4) hours — so the odd-id docs spread over four one-hour
    windows and the oracle replays the (window_start, verdict) rows in
    closed form. Emission mechanics follow the module's sentinel
    contract: the stream's own max event time never flushes the last
    open windows under AvailableNow (no final flush), so two trailing
    far-future sentinel docs walk the watermark — the first raises it,
    the second's batch evicts — and sentinel rows (negative doc_id) are
    dropped AFTER the replay materializes, never in-plan (a pre-agg
    filter would let row-group stats skip the sentinel file and stall
    the watermark silently).
    """
    import os
    import shutil
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..streaming.dedup import stream_neardup_against_corpus_eventtime

    rs = stream_session(spark, _STATE_PARTS)
    docs = T(rs, sf_dir, "documents")
    corpus_bands, corpus_sigs = mh.split_bands(docs.where(F.col("doc_id") % 2 == 0))

    root = tempfile.mkdtemp(prefix="stream_neardup_et_")
    try:
        stream_dir = os.path.join(root, "in")
        stage = os.path.join(root, "stage")
        os.makedirs(stream_dir)
        docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        data_files = [
            f for f in sorted(os.listdir(stage)) if f.startswith("part-")
        ]
        if len(data_files) != 1:
            raise AssertionError(f"expected 1 staged file, got {data_files}")
        now = time.time()
        os.replace(
            os.path.join(stage, data_files[0]),
            os.path.join(stream_dir, "f0.parquet"),
        )
        os.utime(os.path.join(stream_dir, "f0.parquet"), (now - 60, now - 60))
        arrow_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        for i in range(2):  # first raises the watermark, second's batch evicts
            p = os.path.join(stream_dir, f"f{i + 1}.parquet")
            pq.write_table(
                pa.table(
                    {"doc_id": [-1 - i],
                     "text": ["sentinel watermark advance document row"]},
                    schema=arrow_schema,
                ),
                p,
            )
            os.utime(p, (now - 60 + i + 1, now - 60 + i + 1))

        ts = F.timestamp_micros(
            F.lit(_DOC_TS_BASE_US)
            + F.when(F.col("doc_id") < 0, F.lit(100))  # far-future sentinels
            .otherwise(F.col("doc_id") % _DOC_TS_MOD)
            * F.lit(3600_000_000)
        )
        stream = (
            rs.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .withColumn("created_at", ts)
        )
        out = stream_neardup_against_corpus_eventtime(
            stream, corpus_bands, corpus_sigs, ts_col="created_at",
            delay="30 minutes", window_len="1 hour",
        )
        rows = [
            tuple(r)
            for r in _replay(out, "stream_neardup_et", mode="append")
            if r["doc_id"] >= 0  # sentinels dropped post-materialization
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "doc_id long, window_start timestamp, max_agree long, kept boolean"
    )
