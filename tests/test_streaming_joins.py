"""Stream-stream interval join (streaming/joins.py): matches inside the
interval emitted exactly once, out-of-interval rows never joined."""

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
