"""CDC apply: a Debezium-shaped change log (insert/update/delete with a
monotone seq) streamed into the lakehouse table yields exactly-once
state — intra-batch op ordering respected, tombstones remove rows,
absent-key deletes are no-ops, and redelivered batches re-apply
idempotently (streaming/cdc.py)."""

from __future__ import annotations

import json


def _land(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


_SCHEMA = "op string, seq long, k long, dept string, val long"


def _read_changes(spark, landing):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .json(str(landing))
    )


def _state(spark, path):
    from etl_github_spark.io.delta_log import read_delta

    return {
        (r.k, r.dept, r.val)
        for r in read_delta(spark, path).select("k", "dept", "val").collect()
    }


def test_cdc_apply_end_to_end(spark, tmp_path):
    from etl_github_spark.streaming.cdc import stream_cdc_apply

    landing = tmp_path / "changes"
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: bootstrap inserts
    _land(
        landing,
        "b1.json",
        [
            {"op": "I", "seq": 1, "k": 1, "dept": "a", "val": 10},
            {"op": "I", "seq": 2, "k": 2, "dept": "a", "val": 20},
            {"op": "I", "seq": 3, "k": 3, "dept": "b", "val": 30},
        ],
    )
    # batch 2: out-of-order ops for one key (I@4 then D@6 then U@5 in
    # file order — latest seq is the DELETE and must win), an update,
    # and a delete for a key that never existed (no-op)
    _land(
        landing,
        "b2.json",
        [
            {"op": "U", "seq": 4, "k": 1, "dept": "a", "val": 11},
            {"op": "D", "seq": 6, "k": 1, "dept": "a", "val": None},
            {"op": "U", "seq": 5, "k": 1, "dept": "a", "val": 12},
            {"op": "U", "seq": 7, "k": 2, "dept": "a", "val": 21},
            {"op": "D", "seq": 8, "k": 99, "dept": "b", "val": None},
        ],
    )
    q = stream_cdc_apply(
        _read_changes(spark, landing), table, ckpt, ("k",), "dept"
    )
    q.awaitTermination(120)
    assert _state(spark, table) == {(2, "a", 21), (3, "b", 30)}


def test_cdc_redelivery_is_idempotent(spark, tmp_path):
    """Each batch is one Delta commit, and re-applying a batch leaves
    the table's rows unchanged."""
    from collections import Counter

    from etl_github_spark.io.delta_log import history, read_delta
    from etl_github_spark.streaming.cdc import apply_cdc_batch

    landing = tmp_path / "c"
    table = str(tmp_path / "t")
    rows1 = [
        {"op": "I", "seq": 1, "k": 1, "dept": "a", "val": 10},
        {"op": "I", "seq": 2, "k": 2, "dept": "b", "val": 20},
    ]
    rows2 = [
        {"op": "U", "seq": 3, "k": 1, "dept": "a", "val": 11},
        {"op": "D", "seq": 4, "k": 2, "dept": "b", "val": None},
    ]
    _land(landing, "r1.json", rows1)
    _land(landing, "r2.json", rows2)
    b1 = spark.read.schema(_SCHEMA).json(str(landing / "r1.json"))
    b2 = spark.read.schema(_SCHEMA).json(str(landing / "r2.json"))

    apply_cdc_batch(b1, table, ("k",), "dept")
    apply_cdc_batch(b2, table, ("k",), "dept")
    assert _state(spark, table) == {(1, "a", 11)}
    rows = Counter(tuple(r) for r in read_delta(spark, table).collect())
    # crash-redelivery: the SAME batch applies again → unchanged rows
    apply_cdc_batch(b2, table, ("k",), "dept")
    assert Counter(tuple(r) for r in read_delta(spark, table).collect()) == rows
    assert [h["operation"] for h in history(table)] == ["WRITE", "MERGE", "MERGE"]


def test_cdc_delete_drops_emptied_partition_dir(spark, tmp_path):
    """Deleting every row of a partition leaves it with no live file in
    the snapshot and no row in a read of the table."""
    from etl_github_spark.io.delta_log import read_delta, snapshot_files
    from etl_github_spark.streaming.cdc import apply_cdc_batch

    landing = tmp_path / "c"
    table = str(tmp_path / "t")
    _land(
        landing,
        "r1.json",
        [
            {"op": "I", "seq": 1, "k": 1, "dept": "solo", "val": 1},
            {"op": "I", "seq": 2, "k": 2, "dept": "rest", "val": 2},
        ],
    )
    _land(landing, "r2.json", [{"op": "D", "seq": 3, "k": 1, "dept": "solo", "val": None}])
    b1 = spark.read.schema(_SCHEMA).json(str(landing / "r1.json"))
    b2 = spark.read.schema(_SCHEMA).json(str(landing / "r2.json"))
    apply_cdc_batch(b1, table, ("k",), "dept")
    apply_cdc_batch(b2, table, ("k",), "dept")
    assert _state(spark, table) == {(2, "rest", 2)}
    assert snapshot_files(table, partition_filter={"dept": "solo"}) == []
    assert read_delta(spark, table).where("dept = 'solo'").count() == 0


def test_cdc_update_moving_partitions_leaves_no_stale_copy(spark, tmp_path):
    """An update that CHANGES the partition column must supersede the
    old-partition copy (the default key-wide scope), and a later
    tombstone must kill the key wherever it lives."""
    from etl_github_spark.streaming.cdc import apply_cdc_batch

    landing = tmp_path / "c"
    table = str(tmp_path / "t")
    _land(landing, "r1.json", [
        {"op": "I", "seq": 1, "k": 1, "dept": "a", "val": 10},
        {"op": "I", "seq": 2, "k": 2, "dept": "a", "val": 20},
    ])
    _land(landing, "r2.json", [
        {"op": "U", "seq": 3, "k": 1, "dept": "b", "val": 11},  # moves a -> b
    ])
    _land(landing, "r3.json", [
        {"op": "D", "seq": 4, "k": 1, "dept": "b", "val": None},
    ])
    b = lambda n: spark.read.schema(_SCHEMA).json(str(landing / n))  # noqa: E731
    apply_cdc_batch(b("r1.json"), table, ("k",), "dept")
    apply_cdc_batch(b("r2.json"), table, ("k",), "dept")
    # exactly one copy of k=1, in its NEW partition
    assert _state(spark, table) == {(1, "b", 11), (2, "a", 20)}
    apply_cdc_batch(b("r3.json"), table, ("k",), "dept")
    assert _state(spark, table) == {(2, "a", 20)}


def test_stream_scd2_sink_accumulates_history(spark, tmp_path):
    """Streaming SCD2: batch 1 bootstraps, batch 2's changed key closes
    its old row and opens a new one while a re-sent key no-ops."""
    from etl_github_spark.io.delta_log import history, read_delta
    from etl_github_spark.streaming.cdc import stream_scd2_sink

    landing = tmp_path / "c"
    _land(landing, "b1.json", [
        {"seq": 1, "k": 1, "seg": "A"},
        {"seq": 2, "k": 2, "seg": "B"},
    ])
    _land(landing, "b2.json", [
        {"seq": 3, "k": 1, "seg": "Z"},   # change
        {"seq": 4, "k": 2, "seg": "B"},   # re-send: no-op
    ])
    src = (
        spark.readStream.schema("seq long, k long, seg string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    table, ckpt = str(tmp_path / "dim"), str(tmp_path / "ck")
    q = stream_scd2_sink(src, table, ckpt, "k", ("seg",))
    q.awaitTermination(120)
    rows = {
        (r.k, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in read_delta(spark, table).collect()
    }
    # version stamps are batch watermarks (max seq of the batch): the
    # bootstrap batch stamps 2, the second batch stamps 4
    assert rows == {
        (1, "A", 2, 4, 0),    # closed at batch-2 version (max seq = 4)
        (1, "Z", 4, None, 1),
        (2, "B", 2, None, 1),  # re-send left untouched
    }
    # bootstrap commit, then one MERGE for the second batch
    assert [h["operation"] for h in history(table)] == ["WRITE", "MERGE"]


def test_cdc_rejects_equal_winning_seq_for_key(spark, tmp_path):
    """Two change rows with the same winning seq for one key make the
    applied state nondeterministic — the apply must raise, not pick a
    run-dependent winner. Duplicate seqs BELOW the winner are fine
    (only the latest row is applied)."""
    import pytest

    from etl_github_spark.streaming.cdc import apply_cdc_batch

    landing = tmp_path / "c"
    table = str(tmp_path / "t")
    bad = [
        {"op": "I", "seq": 1, "k": 1, "dept": "a", "val": 10},
        {"op": "U", "seq": 2, "k": 1, "dept": "a", "val": 11},
        {"op": "U", "seq": 2, "k": 1, "dept": "a", "val": 12},
    ]
    _land(landing, "bad.json", bad)
    b = spark.read.schema(_SCHEMA).json(str(landing / "bad.json"))
    with pytest.raises(ValueError, match="same winning seq"):
        apply_cdc_batch(b, table, ("k",), "dept")

    ok = [
        {"op": "I", "seq": 1, "k": 1, "dept": "a", "val": 10},
        {"op": "I", "seq": 1, "k": 2, "dept": "b", "val": 20},  # other key: fine
        {"op": "U", "seq": 2, "k": 1, "dept": "a", "val": 11},
    ]
    _land(landing, "ok.json", ok)
    b2 = spark.read.schema(_SCHEMA).json(str(landing / "ok.json"))
    apply_cdc_batch(b2, table, ("k",), "dept")
    assert _state(spark, table) == {(1, "a", 11), (2, "b", 20)}


_UPSERT_SCHEMA = "op string, seq long, id long, val string, date string"


def test_cdc_all_upsert_feed_upserts_across_batches(spark, tmp_path):
    """An upsert-only feed is a change log whose ops are all I/U. Two
    micro-batches with overlapping keys: the table ends with the latest
    version per key, no duplicates; the first batch creates the Delta
    table, the second is one MERGE."""
    from etl_github_spark.io.delta_log import history, read_delta
    from etl_github_spark.streaming.cdc import stream_cdc_apply

    landing = tmp_path / "landing"
    _land(
        landing,
        "b1.json",
        [
            {"op": "I", "seq": 1, "id": 1, "val": "a", "date": "2024-01-01"},
            {"op": "I", "seq": 2, "id": 2, "val": "b", "date": "2024-01-01"},
        ],
    )
    _land(
        landing,
        "b2.json",
        [
            # later version of key 2, plus a new key in a new partition
            {"op": "U", "seq": 3, "id": 2, "val": "b2", "date": "2024-01-01"},
            {"op": "I", "seq": 4, "id": 3, "val": "c", "date": "2024-01-02"},
        ],
    )
    src = (
        spark.readStream.schema(_UPSERT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .json(str(landing))
    )
    table = str(tmp_path / "tbl")
    q = stream_cdc_apply(src, table, str(tmp_path / "ckpt"), ("id",), "date")
    q.awaitTermination(120)
    assert {r["id"]: r["val"] for r in read_delta(spark, table).collect()} == {
        1: "a",
        2: "b2",
        3: "c",
    }
    assert read_delta(spark, table).count() == 3
    assert [h["operation"] for h in history(table)] == ["WRITE", "MERGE"]


def test_cdc_first_batch_redelivery_hides_uncommitted_file(spark, tmp_path):
    """If a prior first-batch attempt died after creating the table dir
    but before its commit (a committer _temporary tree and an
    uncommitted part file, no log version), the redelivered batch must
    still create the table, and the dead attempt's file stays
    invisible."""
    from etl_github_spark.io.delta_log import read_delta
    from etl_github_spark.streaming.cdc import stream_cdc_apply

    landing = tmp_path / "landing"
    _land(
        landing,
        "b1.json",
        [{"op": "I", "seq": 1, "id": 1, "val": "a", "date": "2024-01-01"}],
    )
    # simulate the crashed first attempt: leftovers on disk, no commit
    tbl = tmp_path / "tbl"
    (tbl / "_temporary").mkdir(parents=True)
    (tbl / "date=2024-01-01").mkdir()
    spark.createDataFrame([(9, "dead")], "id long, val string").write.parquet(
        str(tbl / "date=2024-01-01" / "dead")
    )
    src = spark.readStream.schema(_UPSERT_SCHEMA).json(str(landing))
    q = stream_cdc_apply(src, str(tbl), str(tmp_path / "ckpt"), ("id",), "date")
    q.awaitTermination(120)
    got = {r["id"]: r["val"] for r in read_delta(spark, str(tbl)).collect()}
    assert got == {1: "a"}
