"""Incremental aggregate view over a Delta table: each refresh must
scan only the NEW commits yet stay equal to a full recompute, and the
consumed mark must agree with the view after any crash."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_github_spark.io import matview
from etl_github_spark.io.delta_log import read_delta, snapshot_files, write_delta
from etl_github_spark.io.matview import read_view, refresh_view


def _batch(spark, vals):
    return spark.createDataFrame(
        [(k, float(v)) for k, v in vals], "k string, v double"
    )


def _full(spark, path):
    return {
        (r.k, r.cnt, r.sum_v)
        for r in read_delta(spark, path)
        .groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"))
        .collect()
    }


def _view(spark, vpath):
    return {(r.k, r.cnt, r.sum_v) for r in read_view(spark, vpath).collect()}


def test_refresh_merges_only_new_commits(spark, tmp_path):
    t, v = str(tmp_path / "t"), str(tmp_path / "view")

    write_delta(_batch(spark, [("a", 1), ("a", 2), ("b", 3)]), t)
    r1 = refresh_view(spark, t, v, ["k"], ["v"])
    assert r1 == {"from": -1, "to": 0, "scanned_rows": 3}
    assert _view(spark, v) == _full(spark, t)

    write_delta(_batch(spark, [("a", 10), ("c", 5)]), t)
    r2 = refresh_view(spark, t, v, ["k"], ["v"])
    assert r2 == {"from": 0, "to": 1, "scanned_rows": 2}  # v0 NOT re-scanned
    assert _view(spark, v) == _full(spark, t)

    # no new data -> no-op refresh, no view commit
    r3 = refresh_view(spark, t, v, ["k"], ["v"])
    assert r3 == {"from": 1, "to": 1, "scanned_rows": 0}
    assert _view(spark, v) == _full(spark, t)
    assert sorted(os.listdir(os.path.join(v, "_delta_log"))) == [
        f"{n:020d}.json" for n in (0, 1)
    ]


def test_refresh_does_not_touch_consumed_files(spark, tmp_path):
    """Behavioral proof of incrementality (the IVF-store trick): corrupt
    a file the view already consumed — the next refresh must succeed
    because it never opens it, while a full rebuild fails."""
    t, v = str(tmp_path / "t"), str(tmp_path / "view")
    write_delta(_batch(spark, [("a", 1)]), t)
    refresh_view(spark, t, v, ["k"], ["v"])

    (consumed,) = snapshot_files(t)
    with open(os.path.join(t, consumed), "wb") as fh:
        fh.write(b"garbage")

    write_delta(_batch(spark, [("a", 2)]), t)
    refresh_view(spark, t, v, ["k"], ["v"])
    assert _view(spark, v) == {("a", 2, 3.0)}

    with pytest.raises(Exception):
        refresh_view(spark, t, str(tmp_path / "v2"), ["k"], ["v"], full=True)


def test_refresh_crash_leaves_previous_view(spark, tmp_path, monkeypatch):
    """A refresh that dies before its view commit leaves the previous
    view live; one that dies after the commit but before the mark is
    written is caught by the view-version check on the next refresh,
    which rebuilds instead of folding the same rows in twice."""
    t, v = str(tmp_path / "t"), str(tmp_path / "view")
    write_delta(_batch(spark, [("a", 1)]), t)
    refresh_view(spark, t, v, ["k"], ["v"])
    before = _view(spark, v)

    def crash(*args, **kwargs):
        raise OSError("crashed")

    write_delta(_batch(spark, [("b", 7)]), t)
    monkeypatch.setattr(matview, "write_delta", crash)
    with pytest.raises(OSError):
        refresh_view(spark, t, v, ["k"], ["v"])
    monkeypatch.undo()
    assert _view(spark, v) == before

    monkeypatch.setattr(matview, "write_sidecar", crash)
    with pytest.raises(OSError):
        refresh_view(spark, t, v, ["k"], ["v"])
    monkeypatch.undo()
    assert _view(spark, v) == before | {("b", 1, 7.0)}  # committed, mark stale

    write_delta(_batch(spark, [("a", 4)]), t)
    r = refresh_view(spark, t, v, ["k"], ["v"])
    assert r == {"from": -1, "to": 2, "scanned_rows": 3}  # rebuilt
    assert _view(spark, v) == _full(spark, t) == {("a", 2, 5.0), ("b", 1, 7.0)}
    r = refresh_view(spark, t, v, ["k"], ["v"])
    assert r["scanned_rows"] == 0


def test_refresh_view_delta_feed_contract(spark, tmp_path):
    """The change-feed contract: consumes exactly the new versions,
    skips OPTIMIZE rewrites, no-ops when current, RAISES after a
    history rewrite (instead of silently drifting), and full=True
    resets the mark from the current snapshot."""
    from etl_github_spark.io.delta_log import optimize_delta

    table, view = str(tmp_path / "t"), str(tmp_path / "v")
    df = spark.range(100).selectExpr("id", "CAST(id % 3 AS STRING) AS k", "id AS v")
    write_delta(df.where("id < 50").repartition(2), table)
    r = refresh_view(spark, table, view, ["k"], ["v"])
    assert (r["from"], r["to"], r["scanned_rows"]) == (-1, 0, 50)

    assert optimize_delta(spark, table, target_bytes=1 << 30)["version"] == 1
    write_delta(df.where("id >= 50").repartition(2), table, mode="append")
    r = refresh_view(spark, table, view, ["k"], ["v"])
    assert (r["from"], r["to"], r["scanned_rows"]) == (0, 2, 50)  # optimize skipped

    got = {x["k"]: (x["cnt"], x["sum_v"]) for x in read_view(spark, view).collect()}
    want = {
        x["k"]: (x["cnt"], x["sum_v"])
        for x in df.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want

    # current → no-op
    r = refresh_view(spark, table, view, ["k"], ["v"])
    assert r["scanned_rows"] == 0

    # history rewrite → refresh refuses; full=True recovers
    write_delta(df.where("id < 10"), table, mode="overwrite")
    with pytest.raises(ValueError, match="append-only"):
        refresh_view(spark, table, view, ["k"], ["v"])
    r = refresh_view(spark, table, view, ["k"], ["v"], full=True)
    assert r["scanned_rows"] == 10
    assert sum(x["cnt"] for x in read_view(spark, view).collect()) == 10
