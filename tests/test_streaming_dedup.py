"""Streaming dedup: duplicates within the watermark horizon are dropped
exactly once across micro-batches (streaming/dedup.py)."""

from __future__ import annotations

import json


def _land(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_dedup_exact_drops_in_window_duplicates(spark, tmp_path):
    from etl_github_spark.streaming.dedup import stream_dedup_exact

    landing = tmp_path / "landing"
    rows = [
        {"event_id": 1, "user_id": 10, "created_at": "2024-01-01T00:05:00Z"},
        {"event_id": 1, "user_id": 10, "created_at": "2024-01-01T00:06:00Z"},  # dup, same hour
        {"event_id": 2, "user_id": 11, "created_at": "2024-01-01T00:10:00Z"},
        {"event_id": 1, "user_id": 10, "created_at": "2024-01-01T02:05:00Z"},  # later window: re-emits
        {"event_id": 3, "user_id": 12, "created_at": "2024-01-01T02:20:00Z"},
    ]
    _land(landing, "a.json", rows[:2])
    _land(landing, "b.json", rows[2:])

    src = (
        spark.readStream.schema("event_id long, user_id long, created_at string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .json(str(landing))
        .selectExpr("event_id", "user_id", "to_timestamp(created_at) AS created_at")
    )
    deduped = stream_dedup_exact(src, ["event_id"], ts_col="created_at")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["created_at"].isoformat())
        for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    # one row per (event_id, hour-window): the 00:06 dup is dropped, the
    # 02:05 recurrence survives (new window)
    assert got == [
        (1, "2024-01-01T00:05:00"),
        (1, "2024-01-01T02:05:00"),
        (2, "2024-01-01T00:10:00"),
        (3, "2024-01-01T02:20:00"),
    ]


def test_stream_dedup_against_corpus_drops_landed_and_in_stream_dups(spark, tmp_path):
    """Corpus-known fingerprints never re-emit; in-stream duplicates emit
    once (first micro-batch occurrence wins); genuinely new docs pass."""
    from pyspark.sql import functions as F

    from etl_github_spark.streaming.dedup import stream_dedup_against_corpus

    landing = tmp_path / "landing"
    _land(landing, "a.json", [
        {"doc_id": 101, "text": "already landed"},   # in corpus → dropped
        {"doc_id": 102, "text": "fresh doc one"},
    ])
    _land(landing, "b.json", [
        {"doc_id": 103, "text": "fresh doc one"},    # in-stream dup → dropped
        {"doc_id": 104, "text": "fresh doc two"},
    ])
    corpus_fp = spark.createDataFrame(
        [("already landed",), ("other old doc",)], "text string"
    ).select(F.md5("text").alias("fp"))

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = stream_dedup_against_corpus(src, corpus_fp)
    q = (
        out.writeStream.format("memory")
        .queryName("corpus_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.sql("SELECT * FROM corpus_dedup_out").collect()
    )
    assert got == [(102, "fresh doc one"), (104, "fresh doc two")]


def test_stream_dedup_corpus_join_not_hint_broadcast(spark):
    """The corpus-fingerprint frame is O(corpus) rows — one md5 per
    landed doc — so the stream-static LEFT ANTI must not carry a FORCED
    broadcast hint: at 100 TB that frame is tens of GB pinned in every
    executor, the exact OOM class the round-9 clustering de-broadcast
    removed. AQE broadcasts at runtime when the frame actually fits.
    Mirrors tests/test_plans.py::test_cluster_membership_joins_not_hint_broadcast."""
    from pyspark.sql import functions as F

    from etl_github_spark.streaming.dedup import stream_dedup_against_corpus

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    corpus_fp = spark.createDataFrame([("x",)], "text string").select(
        F.md5("text").alias("fp")
    )
    out = stream_dedup_against_corpus(docs, corpus_fp)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in plan


def test_stream_neardup_flags_fuzzy_corpus_duplicates(spark, tmp_path):
    """A streamed doc that is a NEAR-duplicate (not byte-identical) of a
    landed corpus doc must be flagged kept=False; an unrelated doc
    passes; a doc with <3 tokens carries no signature and emits no
    verdict. The verdict must match what the batch family would say."""
    import json

    from etl_github_spark.minhash import band_rows
    from etl_github_spark.streaming.dedup import stream_neardup_against_corpus

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    crows = band_rows(corpus, with_sig=True)
    corpus_bands = crows.select("doc_id", "band", "bucket")
    corpus_sigs = crows.where("band = 0").select("doc_id", "sig")

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        # near-dup: one word changed at the end — most shingles shared
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog near the river shore"},
        {"doc_id": 3, "text": "completely different content about spark structured streaming engines"},
        {"doc_id": 5, "text": "too short"},  # <3 tokens → no verdict
    ]
    with open(landing / "a.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    src = spark.readStream.schema("doc_id long, text string").json(str(landing))
    out = stream_neardup_against_corpus(src, corpus_bands, corpus_sigs)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["max_agree"], r["kept"])
        for r in spark.sql("SELECT * FROM neardup_out").collect()
    }
    assert set(got) == {1, 3}  # doc 5 has no signature
    assert got[1][1] is False and got[1][0] * 2 >= 32  # near-dup flagged
    assert got[3][1] is True and got[3][0] * 2 < 32    # fresh doc passes


def test_stream_neardup_unmatched_agree_zero_under_legacy_ansi(spark):
    """Collision-free docs must replay max_agree=0 even under a legacy
    non-ANSI session: size() of a NULL array returns -1 (not NULL) when
    spark.sql.ansi.enabled=false, so a coalesce(size(...), 0) guard
    never fires — the join's unmatched branch must test c_sig IS NULL
    directly. Batch replay of the stream-static join, ANSI toggled off."""
    from etl_github_spark.minhash import band_rows
    from etl_github_spark.streaming.dedup import stream_neardup_against_corpus

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(3, "completely different content about spark structured streaming engines")],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        crows = band_rows(corpus, with_sig=True)
        got = stream_neardup_against_corpus(
            docs,
            crows.select("doc_id", "band", "bucket"),
            crows.where("band = 0").select("doc_id", "sig"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [(r["doc_id"], r["max_agree"], r["kept"]) for r in got] == [(3, 0, True)]


def test_stream_neardup_eventtime_emits_on_watermark_and_bounds_state(spark, tmp_path):
    """The append-mode event-time variant must (a) emit each (window,
    doc) verdict exactly once when the watermark closes the window, (b)
    agree with the unwindowed complete-mode sibling's verdicts, and (c)
    EVICT closed-window state — numRowsTotal in the final batch must be
    below the total distinct (window, doc) group count, proving state
    is bounded by the watermark horizon, not stream length."""
    import json
    import os
    import time

    from etl_github_spark.minhash import band_rows
    from etl_github_spark.streaming.dedup import (
        stream_neardup_against_corpus_eventtime,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    crows = band_rows(corpus, with_sig=True)
    corpus_bands = crows.select("doc_id", "band", "bucket")
    corpus_sigs = crows.where("band = 0").select("doc_id", "sig")

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        # hour-0 docs: one near-dup of the corpus doc, one fresh
        [{"doc_id": 1, "created_at": "2024-01-01T00:10:00Z",
          "text": "the quick brown fox jumps over the lazy dog near the river shore"},
         {"doc_id": 3, "created_at": "2024-01-01T00:20:00Z",
          "text": "completely different content about spark structured streaming engines"}],
        # first sentinel: raises the watermark past hour 0 + delay
        [{"doc_id": 101, "created_at": "2024-01-01T02:30:00Z",
          "text": "sentinel document advancing the stream watermark first step"}],
        # second sentinel: its batch evicts the hour-0 windows (the
        # watermark used for eviction trails one batch behind)
        [{"doc_id": 103, "created_at": "2024-01-01T05:00:00Z",
          "text": "sentinel document advancing the stream watermark second step"}],
    ]
    for i, rows in enumerate(batches):
        p = landing / f"{chr(97 + i)}.json"
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (time.time() + i, time.time() + i))  # pin batch order

    src = (
        spark.readStream.schema("doc_id long, text string, created_at string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .selectExpr("doc_id", "text", "to_timestamp(created_at) AS created_at")
    )
    out = stream_neardup_against_corpus_eventtime(src, corpus_bands, corpus_sigs)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_et_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["window_start"].isoformat(), r["max_agree"], r["kept"])
        for r in spark.sql("SELECT * FROM neardup_et_out").collect()
    }
    # (a)+(b): hour-0 verdicts emitted once, same verdicts as the
    # unwindowed sibling (near-dup flagged, fresh doc kept)
    assert 1 in got and 3 in got
    assert got[1][0] == "2024-01-01T00:00:00" and got[1][2] is False
    assert got[1][1] * 2 >= 32
    assert got[3][0] == "2024-01-01T00:00:00" and got[3][2] is True
    assert got[3][1] == 0
    # (c): final-batch state must be smaller than the 4 distinct
    # (window, doc) groups the stream produced — closed windows evicted
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"] and p["numInputRows"] > 0
    ]
    assert state_rows, "no stateful progress recorded"
    assert max(state_rows) >= 3          # all groups were live at the peak
    assert state_rows[-1] < 4, state_rows  # eviction happened
