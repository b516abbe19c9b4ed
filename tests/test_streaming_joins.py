"""Stream-stream interval join and stream-static enrich
(streaming/joins.py): matches inside the interval emitted exactly once,
out-of-interval rows never joined."""

from __future__ import annotations

import json


def _land(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_stream_interval_join_bounds_matches(spark, tmp_path):
    from etl_github_spark.streaming.joins import stream_stream_interval_join

    clicks_dir, views_dir = tmp_path / "clicks", tmp_path / "views"
    _land(
        clicks_dir,
        "c.json",
        [
            {"user_id": 1, "click_id": 100, "l_ts": "2024-01-01T01:00:00Z"},
            {"user_id": 2, "click_id": 200, "l_ts": "2024-01-01T01:00:00Z"},
            {"user_id": 3, "click_id": 300, "l_ts": "2024-01-01T01:00:00Z"},
        ],
    )
    _land(
        views_dir,
        "v.json",
        [
            # in-interval for click 100 (25 min before)
            {"user_id": 1, "view_id": 11, "r_ts": "2024-01-01T00:35:00Z"},
            # out-of-interval for click 200 (45 min before > 30 min)
            {"user_id": 2, "view_id": 22, "r_ts": "2024-01-01T00:15:00Z"},
            # AFTER click 300: must not match
            {"user_id": 3, "view_id": 33, "r_ts": "2024-01-01T01:10:00Z"},
            # second in-interval view for click 100
            {"user_id": 1, "view_id": 12, "r_ts": "2024-01-01T01:00:00Z"},
        ],
    )
    clicks = (
        spark.readStream.schema("user_id long, click_id long, l_ts string")
        .json(str(clicks_dir))
        .selectExpr("user_id", "click_id", "to_timestamp(l_ts) AS l_ts")
    )
    views = (
        spark.readStream.schema("user_id long, view_id long, r_ts string")
        .json(str(views_dir))
        .selectExpr(
            "user_id AS r_user_id", "view_id", "to_timestamp(r_ts) AS r_ts"
        )
    )
    joined = stream_stream_interval_join(clicks, views, "user_id")
    q = (
        joined.selectExpr("click_id", "view_id")
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    )
    assert got == [(100, 11), (100, 12)]


def test_stream_static_enrich_broadcasts_dim(spark, tmp_path):
    from etl_github_spark.streaming.joins import stream_static_enrich

    landing = tmp_path / "landing"
    _land(
        landing,
        "e.json",
        [
            {"user_id": 1, "event_id": 7, "created_at": "2024-01-01T00:05:00Z"},
            {"user_id": 9, "event_id": 8, "created_at": "2024-01-01T00:06:00Z"},
        ],
    )
    dim = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], ["user_id", "user_name"]
    )
    src = spark.readStream.schema(
        "user_id long, event_id long, created_at string"
    ).json(str(landing))
    out = stream_static_enrich(src, dim, "user_id")
    q = (
        out.selectExpr("event_id", "user_name")
        .writeStream.format("memory")
        .queryName("sse_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["user_name"])
        for r in spark.sql("SELECT * FROM sse_out").collect()
    )
    # left join: unmatched user 9 survives with null name
    assert got == [(7, "alice"), (8, None)]


def test_stream_merge_sink_upserts_across_batches(spark, tmp_path):
    """Two micro-batches with overlapping keys: the table ends with the
    latest version per key, no duplicates (streaming CDC upsert): the
    first batch creates the Delta table, the second is one MERGE."""
    from etl_github_spark.io.delta_log import history, read_delta
    from etl_github_spark.streaming.pipeline import stream_merge_sink

    landing = tmp_path / "landing"
    _land(
        landing,
        "b1.json",
        [
            {"id": 1, "val": "a", "created_at": "2024-01-01T00:00:00Z", "date": "2024-01-01"},
            {"id": 2, "val": "b", "created_at": "2024-01-01T00:00:00Z", "date": "2024-01-01"},
        ],
    )
    _land(
        landing,
        "b2.json",
        [
            # later version of key 2, plus a new key in a new partition
            {"id": 2, "val": "b2", "created_at": "2024-01-01T01:00:00Z", "date": "2024-01-01"},
            {"id": 3, "val": "c", "created_at": "2024-01-01T01:00:00Z", "date": "2024-01-02"},
        ],
    )
    src = (
        spark.readStream.schema("id long, val string, created_at string, date string")
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .json(str(landing))
        .selectExpr("id", "val", "to_timestamp(created_at) AS created_at", "date")
    )
    q = stream_merge_sink(
        src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), key_cols=("id",)
    )
    q.awaitTermination(120)
    got = {
        r["id"]: r["val"]
        for r in read_delta(spark, str(tmp_path / "tbl")).collect()
    }
    assert got == {1: "a", 2: "b2", 3: "c"}
    assert [h["operation"] for h in history(str(tmp_path / "tbl"))] == ["WRITE", "MERGE"]


def test_stream_merge_sink_first_batch_redelivery_idempotent(spark, tmp_path):
    """If a prior first-batch attempt died after creating the table dir
    but before its commit (a committer _temporary tree and an
    uncommitted part file, no log version), the redelivered batch must
    still create the table, and the dead attempt's file stays
    invisible."""
    from etl_github_spark.io.delta_log import read_delta
    from etl_github_spark.streaming.pipeline import stream_merge_sink

    landing = tmp_path / "landing"
    _land(
        landing,
        "b1.json",
        [{"id": 1, "val": "a", "created_at": "2024-01-01T00:00:00Z", "date": "2024-01-01"}],
    )
    # simulate the crashed first attempt: leftovers on disk, no commit
    tbl = tmp_path / "tbl"
    (tbl / "_temporary").mkdir(parents=True)
    (tbl / "date=2024-01-01").mkdir()
    spark.createDataFrame([(9, "dead")], "id long, val string").write.parquet(
        str(tbl / "date=2024-01-01" / "dead")
    )
    src = (
        spark.readStream.schema("id long, val string, created_at string, date string")
        .json(str(landing))
        .selectExpr("id", "val", "to_timestamp(created_at) AS created_at", "date")
    )
    q = stream_merge_sink(src, str(tbl), str(tmp_path / "ckpt"), key_cols=("id",))
    q.awaitTermination(120)
    got = {r["id"]: r["val"] for r in read_delta(spark, str(tbl)).collect()}
    assert got == {1: "a"}
