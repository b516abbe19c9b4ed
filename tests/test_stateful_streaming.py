"""applyInPandasWithState operator tests: state must accumulate across
micro-batches and survive a restart (the property plain windowed
aggregation can't express)."""

from __future__ import annotations

import json
from pathlib import Path


def _write_batch(d: Path, name: str, rows):
    d.mkdir(parents=True, exist_ok=True)
    with open(d / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_attribution_recoverable(spark, indir, ckpt, outdir):
    # memory sink cannot recover from a checkpoint; foreachBatch + parquet
    # can, which is also the production shape for stateful output.
    from pyspark.sql import functions as F

    from etl_github_spark.streaming.stateful import attribution_last_touch

    stream = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(outdir))

    q = (
        attribution_last_touch(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_state_survives_restart(spark, tmp_path):
    """A touch seen by the first run must credit a purchase that only
    the restarted run sees: the GroupState comes back from the
    checkpoint, not from the input."""
    indir = tmp_path / "in"
    _write_batch(
        indir,
        "b1.json",
        [{"event_id": 1, "user_id": 7, "event_type": "click", "ts": "2024-01-01T00:00:00"}],
    )
    _run_attribution_recoverable(spark, indir, tmp_path / "ckpt", tmp_path / "out")
    # second run with a NEW file: checkpointed state must carry over
    _write_batch(
        indir,
        "b2.json",
        [{"event_id": 2, "user_id": 7, "event_type": "purchase", "ts": "2024-01-01T00:30:00"}],
    )
    _run_attribution_recoverable(spark, indir, tmp_path / "ckpt", tmp_path / "out")
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [(r.purchase_id, r.attributed_event_id, r.gap_us) for r in rows] == [
        (2, 1, 30 * 60 * 1_000_000)
    ]


def test_volume_spike_gate_flags_burst_not_ramp(spark, tmp_path):
    """EWMA spike gate: steady batches never flag; a 10x burst flags in
    ITS OWN batch (compared against the pre-update level); the batch
    after the burst doesn't re-flag if volume returns to normal."""
    from etl_github_spark.streaming.stateful import volume_spike_gate

    import os

    indir = tmp_path / "in"
    mk = lambda n: [  # noqa: E731
        {"event_type": "click", "ts": "2024-01-01T00:00:00"} for _ in range(n)
    ]
    _write_batch(indir, "b1.json", mk(10))
    _write_batch(indir, "b2.json", mk(12))
    _write_batch(indir, "b3.json", mk(110))  # burst
    _write_batch(indir, "b4.json", mk(11))
    # the file source orders micro-batches by modification time; the four
    # writes can share an mtime second, so pin strictly increasing mtimes
    # or the "burst" can be processed first and never flag
    for i, name in enumerate(["b1.json", "b2.json", "b3.json", "b4.json"]):
        os.utime(indir / name, (1700000000 + i, 1700000000 + i))

    stream = (
        spark.readStream.schema("event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        volume_spike_gate(stream)
        .writeStream.format("memory")
        .queryName("spikes")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM spikes").collect()
    flags = {r.batch_count: r.is_spike for r in rows}
    assert flags == {10: False, 12: False, 110: True, 11: False}
    # the EWMA recurrence matches the batch query's: s1=10, s2=.3*12+.7*10
    by_count = {r.batch_count: r.ewma for r in rows}
    assert by_count[10] == 10.0
    assert by_count[12] == 0.3 * 12 + 0.7 * 10.0


def test_token_heavy_hitters_tracks_dominant_token(spark, tmp_path):
    """The MG state must (a) keep the truly dominant token across
    micro-batches — even when a later batch floods with one-off tokens
    that force prunes — and (b) never hold more than cap counters per
    shard."""
    from etl_github_spark.streaming.stateful import _HH_CAP, token_heavy_hitters

    indir = tmp_path / "in"
    # batch 1: "hot" dominates; batch 2: 100 distinct one-off tokens + more hot
    _write_batch(
        indir, "b1.json", [{"tok": "hot"}] * 40 + [{"tok": f"x{i}"} for i in range(20)]
    )
    _write_batch(
        indir, "b2.json", [{"tok": f"y{i}"} for i in range(100)] + [{"tok": "hot"}] * 30
    )
    stream = (
        spark.readStream.schema("tok STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        token_heavy_hitters(stream)
        .writeStream.format("memory")
        .queryName("hh")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hh").collect()
    assert any(r["tok"] == "hot" for r in rows)
    # the dominant token's lower bound reflects most of its true count
    hot = max(r["lower_bound"] for r in rows if r["tok"] == "hot")
    assert hot >= 70 - (70 + 120) // (_HH_CAP + 1) - 10
    # state bound: no shard ever emits more than cap candidates
    from collections import Counter

    per_emit = Counter()
    for r in rows:
        per_emit[(r["shard"], r["n_shard"])] += 1
    assert max(per_emit.values()) <= _HH_CAP


def test_streaming_attribution_credits_last_touch_across_batches(spark, tmp_path):
    """A touch in batch 1 must credit a purchase in batch 2 (state carries
    it); a purchase with no touch in the 1h window gets a NULL-credit row;
    a newer touch replaces an older one."""
    from pyspark.sql import functions as F

    from etl_github_spark.streaming.stateful import attribution_last_touch

    indir = tmp_path / "in"
    _write_batch(
        indir,
        "b1.json",
        [
            {"event_id": 1, "user_id": 7, "event_type": "click", "ts": "2024-01-01T00:00:00"},
            {"event_id": 2, "user_id": 7, "event_type": "view", "ts": "2024-01-01T00:10:00"},
            {"event_id": 9, "user_id": 8, "event_type": "signup", "ts": "2024-01-01T00:00:00"},
        ],
    )
    _write_batch(
        indir,
        "b2.json",
        [
            {"event_id": 3, "user_id": 7, "event_type": "purchase", "ts": "2024-01-01T00:30:00"},
            {"event_id": 10, "user_id": 8, "event_type": "purchase", "ts": "2024-01-01T00:30:00"},
        ],
    )
    stream = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    q = (
        attribution_last_touch(stream)
        .writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["purchase_id"]: r for r in spark.sql("SELECT * FROM attr").collect()}
    assert rows[3]["attributed_event_id"] == 2  # newer view beat older click
    assert rows[3]["attributed_type"] == "view"
    assert rows[3]["gap_us"] == 20 * 60 * 1_000_000
    assert rows[10]["attributed_event_id"] is None  # no touch for user 8


def test_streaming_attribution_same_ts_touch_does_not_claim_purchase(
    spark, tmp_path
):
    """A touch sharing its timestamp with a purchase must NOT be
    credited (the batch twin requires t_ts strictly < p_ts) — and, just
    as importantly, must not OVERWRITE the state before the purchase is
    processed, which would erase the older in-window touch the purchase
    rightfully credits. Purchases process before same-ts touches; the
    tied touch still becomes state for LATER purchases."""
    from pyspark.sql import functions as F

    from etl_github_spark.streaming.stateful import attribution_last_touch

    indir = tmp_path / "in"
    _write_batch(
        indir,
        "b1.json",
        [
            {"event_id": 1, "user_id": 7, "event_type": "click", "ts": "2024-01-01T00:00:00"},
            # tied pair: touch event_id < purchase event_id, same second
            {"event_id": 2, "user_id": 7, "event_type": "view", "ts": "2024-01-01T00:30:00"},
            {"event_id": 3, "user_id": 7, "event_type": "purchase", "ts": "2024-01-01T00:30:00"},
            # later purchase: the tied view IS its latest prior touch
            {"event_id": 4, "user_id": 7, "event_type": "purchase", "ts": "2024-01-01T00:40:00"},
        ],
    )
    stream = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    q = (
        attribution_last_touch(stream)
        .writeStream.format("memory")
        .queryName("attr_tie")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["purchase_id"]: r for r in spark.sql("SELECT * FROM attr_tie").collect()
    }
    # tied purchase credits the STRICTLY-earlier click, not the tied view
    assert rows[3]["attributed_event_id"] == 1
    assert rows[3]["attributed_type"] == "click"
    assert rows[3]["gap_us"] == 30 * 60 * 1_000_000
    # the tied view still entered state for the later purchase
    assert rows[4]["attributed_event_id"] == 2
    assert rows[4]["gap_us"] == 10 * 60 * 1_000_000
