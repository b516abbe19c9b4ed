"""Lakehouse round-trip tests: full EP2 analytics flow (query →
overwrite sink), compaction, and streaming windowed aggregation over a
real stream."""

from __future__ import annotations

from etl_github_spark.gha.pipeline import ingest_files
from etl_github_spark.gha.queries import run_analytics
from etl_github_spark.io.sink import read_table

from .gha_fixture import write_fixture


def test_run_analytics_overwrite_sink(spark, tmp_path):
    paths = write_fixture(tmp_path / "in", gz=True)
    ingest_files(spark, paths, str(tmp_path / "lake"))
    out = run_analytics(spark, str(tmp_path / "lake"), str(tmp_path / "results"))
    commits = read_table(spark, out["commits"]).collect()
    assert [(r["username"], r["repo"], r["count"]) for r in commits] == [
        ("alice", "org/tools", 6)
    ]
    comments = read_table(spark, out["comments"]).collect()
    assert [(r["username"], r["comment"]) for r in comments] == [("gina", "try dask here")]

    # overwrite is idempotent: re-running replaces, not appends (S6)
    run_analytics(spark, str(tmp_path / "lake"), str(tmp_path / "results"))
    assert read_table(spark, out["commits"]).count() == 1


def test_compaction_preserves_rows_and_layout(spark, tmp_path):
    """Three hourly-style appends of the ingested watch table leave a
    small file per append in its one date partition; OPTIMIZE packs
    them into one file and the snapshot keeps every row."""
    from etl_github_spark.io.delta_log import optimize_delta, read_delta, snapshot_files, write_delta

    paths = write_fixture(tmp_path / "in", gz=True)
    out = ingest_files(spark, paths, str(tmp_path / "lake"))
    watch = read_table(spark, out["watch"])
    table = str(tmp_path / "watch_delta")
    for i in range(3):
        write_delta(watch.coalesce(1), table, partition_by=("date",) if i == 0 else ())
    files_before = snapshot_files(table)

    optimize_delta(spark, table)

    assert read_delta(spark, table).count() == 3 * watch.count() == 21
    files_after = snapshot_files(table)
    assert len(files_before) == 3 and len(files_after) == 1
    assert files_after[0].startswith("date=2024-02-29/")


def test_vacuum_reaps_orphans_preserves_rows(spark, tmp_path):
    """Leftovers of killed writers on a partitioned Delta table — an
    uncommitted part file in a partition dir, a ``.stage-*`` dir and a
    leaked commit temp file — are invisible to readers; vacuum_delta
    reaps exactly them, keeps every committed row, and is a no-op when
    run again (preprocess.py:205's vacuum(retention_hours=0))."""
    import os

    from etl_github_spark.io.delta_log import read_delta, vacuum_delta, write_delta

    paths = write_fixture(tmp_path / "in", gz=True)
    out = ingest_files(spark, paths, str(tmp_path / "lake"))
    table = str(tmp_path / "watch_delta")
    write_delta(read_table(spark, out["watch"]), table, partition_by=("date",))
    n_before = read_delta(spark, table).count()

    stray = os.path.join(table, "date=2024-02-29", "part-junk.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not parquet")
    os.makedirs(os.path.join(table, ".stage-deadbeef", "date=2024-02-29"))
    with open(os.path.join(table, "_delta_log", ".tmp-deadbeef.json"), "w") as fh:
        fh.write("{}")

    assert read_delta(spark, table).count() == n_before
    assert vacuum_delta(table, retention_seconds=0) == [
        ".stage-deadbeef",
        "_delta_log/.tmp-deadbeef.json",
        "date=2024-02-29/part-junk.parquet",
    ]
    assert read_delta(spark, table).count() == n_before
    assert vacuum_delta(table, retention_seconds=0) == []


def test_streaming_windowed_agg_end_to_end(spark, tmp_path):
    """Real stream: landing dir → parse → watermark+window agg → memory
    sink via foreachBatch-free append... complete-mode memory table."""
    from etl_github_spark.gha.extract import extract_commits, parse_raw_lines
    from etl_github_spark.streaming import stream_windowed_counts

    write_fixture(tmp_path / "landing", gz=False)
    raw = spark.readStream.format("text").load(str(tmp_path / "landing"))
    events = parse_raw_lines(raw)
    commits = extract_commits(events)
    agg = stream_windowed_counts(commits, window="1 hour", group_col="repo")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].isoformat(), r["repo"]): r["cnt"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # append mode emits only windows closed by the watermark (event time
    # has advanced past them); the final 00:00 window stays open.
    assert rows[("2024-02-29T22:00:00", "org/tools")] == 3
    assert ("2024-03-01T00:00:00", "org/tools") not in rows


def test_merge_delta_dv_idempotent_reapply(spark, tmp_path):
    """Re-applying the same update batch leaves the table's rows
    unchanged — the retry-safety property the reference's append+retry
    lacks."""
    from collections import Counter

    from etl_github_spark.io.delta_log import merge_delta_dv, read_delta, write_delta

    path = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "id long, val string, date string"
        ),
        path,
        partition_by=("date",),
    )
    updates = spark.createDataFrame(
        [(1, "a2", "2024-01-01"), (3, "c", "2024-01-03")], "id long, val string, date string"
    )
    merge_delta_dv(spark, path, updates, on=("id",))
    once = Counter(tuple(r) for r in read_delta(spark, path).collect())
    merge_delta_dv(spark, path, updates, on=("id",))
    assert Counter(tuple(r) for r in read_delta(spark, path).collect()) == once
    assert sorted((r["id"], r["val"]) for r in read_delta(spark, path).collect()) == [
        (1, "a2"),
        (2, "b"),
        (3, "c"),
    ]


def test_parquet_schema_evolution_merges_columns(spark, tmp_path):
    """Appending files with an extended schema must stay readable:
    mergeSchema unions the schemas and back-fills nulls — the contract
    an evolving 100 TB table depends on."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id").alias("k"), F.lit("v1").alias("a")).write.parquet(
        path
    )
    spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("v2").alias("a"), F.lit(7).alias("b")
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"k", "a", "b"}
    rows = {r["k"]: (r["a"], r["b"]) for r in df.collect()}
    assert rows[0] == ("v1", None) and rows[4] == ("v2", 7)


def test_compact_with_zorder_clusters_within_partition(spark, tmp_path):
    """Z-ordering a partition built from 8 small unclustered appends
    must leave its files clustered on the z-key columns (narrow
    per-file ranges) while preserving every row."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_github_spark.io.delta_log import _replay, read_delta, write_delta, zorder_delta

    path = str(tmp_path / "t")
    df = spark.range(20000).select(
        "id",
        F.lit("2024-01-01").alias("date"),
        F.pmod(F.xxhash64("id"), F.lit(256)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(256)).alias("y"),
    )
    for i in range(8):
        write_delta(
            df.where(F.col("id") % 8 == i).coalesce(1),
            path,
            partition_by=("date",) if i == 0 else (),
        )
    zorder_delta(spark, path, ("x", "y"), n_files=8, tiebreak="id")

    spans = []
    for add in _replay(path).values():
        st = _json.loads(add["stats"])
        spans += [st["maxValues"][c] - st["minValues"][c] for c in ("x", "y")]
    # unclustered files would span ~the full 0..255 domain on both
    # columns; z-ordered files must be materially narrower on average
    assert len(spans) == 16 and sum(spans) / len(spans) < 200
    assert read_delta(spark, path).count() == 20000


def test_connected_components_raises_on_iteration_exhaustion(spark):
    """A chain graph deeper than max_iters must raise, not silently
    return wrong labels (ADVICE r02)."""
    import pytest

    from etl_github_spark.queries.clustering import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)
    # and a sufficient budget converges on the same graph
    lab = connected_components(chain, max_iters=10)
    assert {r["label"] for r in lab.collect()} == {0}


def test_read_table_evolved_merges_added_column(spark, tmp_path):
    """An append that ADDS a column must read back as one frame with
    nulls for pre-evolution rows (Delta mergeSchema analog)."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.sink import read_table, read_table_evolved, write_table

    path = str(tmp_path / "tbl")
    base = spark.range(3).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    write_table(base, path, mode="overwrite", partition_by=())
    evolved = spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("b").alias("v"), F.lit(1).alias("extra")
    )
    write_table(evolved, path, mode="append", partition_by=())

    got = read_table_evolved(spark, path)
    assert set(got.columns) == {"k", "v", "extra"}
    rows = {r.k: r.extra for r in got.collect()}
    assert rows[0] is None and rows[4] == 1
    # plain scan still works (schema from a sampled footer, no crash)
    assert read_table(spark, path).count() == 5


def test_scd2_apply_noop_and_idempotent(spark, tmp_path):
    """SCD2: unchanged re-sends add no history; re-applying the same
    batch after it took effect is a no-op; changed keys get exactly one
    closed + one current row with correct version stamps, applied as
    ONE Delta commit (a no-op batch commits nothing)."""
    from etl_github_spark.io.delta_log import history, read_delta, write_delta
    from etl_github_spark.streaming.cdc import scd2_apply

    path = str(tmp_path / "dim")
    v0 = spark.createDataFrame(
        [(1, "A", 0, None, 1), (2, "B", 0, None, 1), (3, "A", 0, None, 1)],
        "k long, seg string, valid_from long, valid_to long, is_current int",
    )
    write_delta(v0, path)

    ups = spark.createDataFrame(
        [(1, "Z"), (2, "B")], "k long, seg string"  # 1 changes, 2 re-sends
    )
    r = scd2_apply(spark, path, ups, "k", ("seg",), version=1)
    assert r == {"closed": 1, "inserted": 1}
    assert [h["operation"] for h in history(path)][1:] == ["MERGE"]
    rows = {
        (x.k, x.seg, x.valid_from, x.valid_to, x.is_current)
        for x in read_delta(spark, path).collect()
    }
    assert rows == {
        (1, "A", 0, 1, 0),   # closed old value
        (1, "Z", 1, None, 1),  # new current
        (2, "B", 0, None, 1),  # re-send: untouched
        (3, "A", 0, None, 1),
    }
    # idempotent re-apply: the batch now matches current state everywhere
    r2 = scd2_apply(spark, path, ups, "k", ("seg",), version=2)
    assert r2 == {"closed": 0, "inserted": 0}
    assert len(history(path)) == 2
    assert {
        (x.k, x.seg, x.valid_from, x.valid_to, x.is_current)
        for x in read_delta(spark, path).collect()
    } == rows


def test_scd2_apply_rejects_conflicting_batch(spark, tmp_path):
    import pytest

    from etl_github_spark.io.delta_log import write_delta
    from etl_github_spark.streaming.cdc import scd2_apply

    path = str(tmp_path / "dim")
    dim = spark.createDataFrame(
        [(1, "A", 0, None, 1)],
        "k long, seg string, valid_from long, valid_to long, is_current int",
    )
    write_delta(dim, path)
    bad = spark.createDataFrame([(1, "X"), (1, "Y")], "k long, seg string")
    with pytest.raises(ValueError, match="conflicting"):
        scd2_apply(spark, path, bad, "k", ("seg",), version=1)


def test_scd2_apply_inserts_brand_new_keys(spark, tmp_path):
    """A batch key with no existing dimension row is a new member: one
    current row inserted, nothing closed — and the audit counts say so."""
    from etl_github_spark.io.delta_log import read_delta, write_delta
    from etl_github_spark.streaming.cdc import scd2_apply

    path = str(tmp_path / "dim")
    dim = spark.createDataFrame(
        [(1, "A", 0, None, 1)],
        "k long, seg string, valid_from long, valid_to long, is_current int",
    )
    write_delta(dim, path)
    ups = spark.createDataFrame(
        [(1, "Z"), (9, "N")], "k long, seg string"  # 1 changes, 9 is new
    )
    r = scd2_apply(spark, path, ups, "k", ("seg",), version=1)
    assert r == {"closed": 1, "inserted": 2}
    rows = {
        (x.k, x.seg, x.valid_from, x.valid_to, x.is_current)
        for x in read_delta(spark, path).collect()
    }
    assert rows == {
        (1, "A", 0, 1, 0),
        (1, "Z", 1, None, 1),
        (9, "N", 1, None, 1),  # brand-new member, nothing to close
    }
    # re-apply: everything now matches current state -> full no-op
    assert scd2_apply(spark, path, ups, "k", ("seg",), version=2) == {
        "closed": 0,
        "inserted": 0,
    }


def test_scd2_apply_rejects_version_regression(spark, tmp_path):
    """Applying a batch whose version is <= the open row's valid_from
    would write valid_to <= valid_from — silently corrupt history
    intervals. Direct (non-streaming) callers must get a raise; the
    rejected apply must leave the table untouched."""
    import pytest

    from etl_github_spark.io.delta_log import read_delta, write_delta
    from etl_github_spark.streaming.cdc import scd2_apply

    path = str(tmp_path / "dim")
    dim = spark.createDataFrame(
        [(1, "A", 5, None, 1)],
        "k long, seg string, valid_from long, valid_to long, is_current int",
    )
    write_delta(dim, path)
    before = {tuple(r) for r in read_delta(spark, path).collect()}

    ups = spark.createDataFrame([(1, "Z")], "k long, seg string")
    for v in (5, 4):  # same-version and out-of-order replays both reject
        with pytest.raises(ValueError, match="increasing version order"):
            scd2_apply(spark, path, ups, "k", ("seg",), version=v)
    assert {tuple(r) for r in read_delta(spark, path).collect()} == before
    # a properly ordered apply still works
    r = scd2_apply(spark, path, ups, "k", ("seg",), version=6)
    assert r == {"closed": 1, "inserted": 1}


def test_delta_log_append_overwrite_timetravel(spark, tmp_path):
    """Minimal Delta-protocol log (io/delta_log.py): append and
    overwrite commits replay correctly, time travel reads any version,
    uncommitted stray files are invisible, the stats high-water mark is
    answered from the log alone, and racing writers can't share a
    version."""
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        high_water_mark,
        history,
        read_delta,
        snapshot_files,
        write_delta,
        _commit,
    )

    table = str(tmp_path / "dt")
    df1 = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 15).selectExpr("id", "id * 2 AS v")
    assert write_delta(df1, table, stats_cols=("id",)) == 0
    assert write_delta(df2, table, mode="append", stats_cols=("id",)) == 1
    assert read_delta(spark, table).count() == 15
    assert read_delta(spark, table, version=0).count() == 10  # time travel
    assert high_water_mark(table, "id") == 14  # stats-only, no data read

    # stray uncommitted file is invisible (log-driven scan, no listing)
    stray = os.path.join(table, "part-stray.parquet")
    df1.limit(1).write.mode("overwrite").parquet(str(tmp_path / "s"))
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "s" / "part-*.parquet"))[0], stray)
    assert read_delta(spark, table).count() == 15

    # overwrite removes all live files and replaces them
    df3 = spark.range(100, 103).selectExpr("id", "id * 2 AS v")
    assert write_delta(df3, table, mode="overwrite", stats_cols=("id",)) == 2
    assert read_delta(spark, table).count() == 3
    assert high_water_mark(table, "id") == 102
    assert read_delta(spark, table, version=1).count() == 15  # history intact
    # overwrite's live set is EXACTLY the new files: disjoint from v1's
    assert not set(snapshot_files(table, version=2)) & set(
        snapshot_files(table, version=1)
    )

    h = history(table)
    assert [r["version"] for r in h] == [0, 1, 2]
    assert h[2]["removes"] == len(snapshot_files(table, version=1))
    assert h[2]["adds"] == len(snapshot_files(table, version=2))

    # optimistic concurrency: the next version can be committed exactly once
    _commit(table, 3, [{"commitInfo": {"operation": "NOOP", "timestamp": 0}}])
    with pytest.raises(FileExistsError):
        _commit(table, 3, [{"commitInfo": {"operation": "NOOP", "timestamp": 0}}])


def test_delta_log_hardening(spark, tmp_path):
    """Round-5 review fixes: schema-mismatched appends raise (never
    silently drop/null columns), a gap in the version chain raises
    (never a silently wrong snapshot), a lost commit race leaves no
    orphan data files, vacuum_delta reaps log-unreferenced files, and
    timestamp stats columns serialize instead of aborting the commit."""
    import glob
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _commit,
        _version_file,
        high_water_mark,
        read_delta,
        snapshot_files,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "dt")
    df = spark.range(0, 8).selectExpr("id", "timestamp'2024-01-02 03:00:00' + make_interval(0,0,0,0,0,0,id) AS ts")
    # INT96 (Spark's default parquet timestamp) has no footer stats — the
    # writer must OMIT ts stats, not abort; with TIMESTAMP_MICROS the
    # datetime min/max must serialize to ISO strings in the log.
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    write_delta(df, table, stats_cols=("ts",))
    assert high_water_mark(table, "ts") is None  # stats honestly absent
    try:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        write_delta(df, str(tmp_path / "dt_us"), stats_cols=("ts", "id"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    assert high_water_mark(str(tmp_path / "dt_us"), "ts") == "2024-01-02T03:00:07"
    assert high_water_mark(str(tmp_path / "dt_us"), "id") == 7

    # schema-enforced append (names/types) — but nullability-insensitive:
    # appending the table's own read-back snapshot must be accepted
    # (Spark file sources force read schemas nullable)
    write_delta(read_delta(spark, table), table, mode="append")
    assert read_delta(spark, table).count() == 16
    bad = spark.range(0, 3).selectExpr("id", "id AS extra")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(bad, table, mode="append")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(bad, table, mode="overwrite")

    # lost race leaves no orphans: a competitor claims version 1 between
    # this writer's version read and its commit (simulated by pinning the
    # version listing to [0] while v1 already exists on disk)
    from unittest import mock

    import etl_github_spark.io.delta_log as dlog

    nxt = max(dlog._list_versions(table)) + 1
    _commit(table, nxt, [{"commitInfo": {"operation": "NOOP", "timestamp": 0}}])
    before = set(glob.glob(os.path.join(table, "part-*.parquet")))
    with mock.patch.object(dlog, "_list_versions", return_value=list(range(nxt))):
        with pytest.raises(FileExistsError):
            write_delta(df, table, mode="append")
    assert set(glob.glob(os.path.join(table, "part-*.parquet"))) == before

    # vacuum reaps unreferenced files, keeps live ones
    stray = os.path.join(table, "part-unreferenced.parquet")
    open(stray, "wb").write(b"junk")
    assert vacuum_delta(table) == []  # default retention protects fresh files
    reaped = vacuum_delta(table, retention_seconds=0)
    assert "part-unreferenced.parquet" in reaped
    assert read_delta(spark, table).count() == 16  # live files untouched
    # vacuum refuses a gapped log BEFORE deleting anything (a lost
    # version's files would all look unreferenced)

    # gap in the chain raises — for reads, writes, and vacuum alike
    os.remove(_version_file(table, 1))
    with pytest.raises(ValueError, match="non-contiguous"):
        snapshot_files(table)
    with pytest.raises(ValueError, match="non-contiguous"):
        write_delta(df, table, mode="append")
    with pytest.raises(ValueError, match="non-contiguous"):
        vacuum_delta(table, retention_seconds=0)


def test_delta_log_partitioned_write_read_prune(spark, tmp_path):
    """Round-7 partitioned Delta log (the reference's actual layout,
    preprocess.py partition_by="date"): hive-style file layout, real
    partitionValues on add actions, partition columns re-derived with
    the recorded types, layout enforcement on later writes, and —
    the point of the feature — log-driven pruning: a corrupt file in a
    pruned-out partition is NEVER read."""
    import json
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _replay,
        high_water_mark,
        partition_columns,
        read_delta,
        snapshot_files,
        write_delta,
    )

    table = str(tmp_path / "dtp")
    df = spark.range(0, 40).selectExpr(
        "id",
        "CAST(date'2024-01-01' + CAST(id % 4 AS INT) AS DATE) AS day",
        "id * 2 AS v",
    )
    assert write_delta(df, table, stats_cols=("id",), partition_by=("day",)) == 0
    assert partition_columns(table) == ["day"]

    # hive layout on disk + string-encoded partitionValues in the log
    assert os.path.isdir(os.path.join(table, "day=2024-01-02"))
    adds = _replay(table)
    assert all(set(a["partitionValues"]) == {"day"} for a in adds.values())
    days = {a["partitionValues"]["day"] for a in adds.values()}
    assert days == {f"2024-01-0{d}" for d in (1, 2, 3, 4)}

    # read-back: full schema, recorded order, partition col typed DATE
    snap = read_delta(spark, table)
    assert snap.columns == ["id", "day", "v"]
    assert dict(snap.dtypes)["day"] == "date"
    assert snap.count() == 40
    import datetime

    one_day = read_delta(spark, table, partition_filter={"day": "2024-01-03"})
    assert one_day.count() == 10
    assert one_day.select("day").distinct().collect()[0][0] == datetime.date(
        2024, 1, 3
    )

    # appends inherit the layout; a conflicting declaration raises
    df2 = spark.range(40, 44).selectExpr(
        "id", "CAST(date'2024-01-01' AS DATE) AS day", "id * 2 AS v"
    )
    write_delta(df2, table, mode="append", stats_cols=("id",))
    assert read_delta(spark, table, partition_filter={"day": "2024-01-01"}).count() == 14
    with pytest.raises(ValueError, match="partition mismatch"):
        write_delta(df2, table, mode="append", partition_by=("v",))

    # PRUNING: corrupt every file of day=2024-01-04; scans filtered to
    # other days never touch it, an unfiltered scan fails loudly
    for f in snapshot_files(table, partition_filter={"day": "2024-01-04"}):
        with open(os.path.join(table, f), "wb") as fh:
            fh.write(b"corrupt")
    assert read_delta(spark, table, partition_filter={"day": "2024-01-02"}).count() == 10
    with pytest.raises(Exception):
        read_delta(spark, table).count()

    # stats survive partitioning: hwm from the log alone
    assert high_water_mark(table, "id") == 43


def test_delta_log_partitioned_null_partition(spark, tmp_path):
    """Null partition values round-trip: __HIVE_DEFAULT_PARTITION__ on
    disk, JSON null in the add action, filterable with None."""
    from etl_github_spark.io.delta_log import _replay, read_delta, write_delta

    table = str(tmp_path / "dtn")
    df = spark.range(0, 6).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('g', id % 3) END AS grp"
    )
    write_delta(df, table, partition_by=("grp",))
    assert {a["partitionValues"]["grp"] for a in _replay(table).values()} == {
        None,
        "g1",
        "g2",
    }
    nulls = read_delta(spark, table, partition_filter={"grp": None})
    assert sorted(r["id"] for r in nulls.collect()) == [0, 3]
    assert nulls.select("grp").distinct().collect()[0][0] is None


def test_delta_log_checkpoint_replay_equivalence(spark, tmp_path):
    """Round-7 checkpoints: the checkpoint+tail replay path produces
    exactly the full-JSON snapshot at every version ≥ the checkpoint;
    cleanup_log removes the prefix; time travel below the checkpoint
    then raises; gap detection still fires on the tail; writes resume
    correctly on a cleaned log; vacuum keeps checkpoint-referenced
    files live."""
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _version_file,
        checkpoint_delta,
        cleanup_log,
        high_water_mark,
        read_delta,
        snapshot_files,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "dtc")
    for i in range(8):
        mode = "overwrite" if i == 3 else "append"
        df = spark.range(i * 10, i * 10 + 5).selectExpr("id", "id * 2 AS v")
        if i == 0:
            write_delta(df, table, stats_cols=("id",), partition_by=("v",))
        else:
            write_delta(df, table, mode=mode, stats_cols=("id",))

    full = {v: snapshot_files(table, version=v) for v in range(8)}
    assert checkpoint_delta(table, version=5) == 5
    # checkpoint path == full-JSON path for v5..7 (JSON still present)
    for v in (5, 6, 7):
        assert snapshot_files(table, version=v) == full[v]

    removed = cleanup_log(table)
    assert len(removed) == 6  # 0..5 gone
    # latest + post-checkpoint time travel still exact
    for v in (5, 6, 7):
        assert snapshot_files(table, version=v) == full[v]
    assert read_delta(spark, table).count() == sum(
        1 for _ in read_delta(spark, table).collect()
    )
    assert {r["id"] for r in read_delta(spark, table, version=5).collect()} == (
        set(range(30, 35)) | set(range(40, 45)) | set(range(50, 55))
    )
    # stats + partition columns survive via the checkpoint's metaData
    assert high_water_mark(table, "id") == 74
    from etl_github_spark.io.delta_log import partition_columns

    assert partition_columns(table) == ["v"]

    # below-checkpoint time travel is an explicit error now
    with pytest.raises(ValueError, match="cleaned up past checkpoint"):
        snapshot_files(table, version=2)

    # gap detection on the tail still fires
    os.rename(_version_file(table, 6), _version_file(table, 6) + ".hide")
    with pytest.raises(ValueError, match="missing after checkpoint"):
        snapshot_files(table, version=7)
    os.rename(_version_file(table, 6) + ".hide", _version_file(table, 6))

    # writes continue on the cleaned log with correct version numbers
    df = spark.range(100, 103).selectExpr("id", "id * 2 AS v")
    assert write_delta(df, table, mode="append", stats_cols=("id",)) == 8
    assert read_delta(spark, table).count() == 28

    # vacuum: files referenced only via the checkpoint stay live, while
    # files whose add actions were cleaned with the JSON prefix (the
    # pre-overwrite commits 0–2) are legitimately reaped — real Delta's
    # end state after log cleanup + vacuum (documented module-level)
    reaped = vacuum_delta(table, retention_seconds=0)
    live_files = set(snapshot_files(table)) | {
        f for v in (5, 6, 7, 8) for f in snapshot_files(table, version=v)
    }
    assert len(reaped) == 15 and not (set(reaped) & live_files)
    assert read_delta(spark, table, version=5).count() == 15

    # a fully-cleaned log (no JSON at all) still reads and writes
    assert checkpoint_delta(table) == 8
    cleanup_log(table)
    assert read_delta(spark, table).count() == 28
    assert write_delta(df, table, mode="append") == 9
    assert read_delta(spark, table).count() == 31


def test_delta_log_checkpoint_pointer_integrity(tmp_path):
    """_last_checkpoint pointing at a missing checkpoint file raises
    (cleanup may already have relied on it) — never silently replays a
    truncated log."""
    import json
    import os

    import pytest

    from etl_github_spark.io.delta_log import _last_checkpoint

    table = str(tmp_path / "dtx")
    os.makedirs(os.path.join(table, "_delta_log"))
    with open(os.path.join(table, "_delta_log", "_last_checkpoint"), "w") as fh:
        json.dump({"version": 3}, fh)
    with pytest.raises(ValueError, match="missing"):
        _last_checkpoint(table)


def test_delta_log_checkpoint_preferred_while_json_retained(spark, tmp_path):
    """Replay must start from the checkpoint whenever one covers the
    requested version — not only after cleanup_log (review finding:
    the old branch order walked all N JSON files as long as the 0..v
    chain existed, so checkpoints gave zero speedup until the prefix
    was destructively cleaned). Pin: corrupt a below-checkpoint JSON
    file; latest-snapshot reads must not even open it."""
    import pytest

    from etl_github_spark.io.delta_log import (
        _version_file,
        checkpoint_delta,
        snapshot_files,
        write_delta,
    )

    table = str(tmp_path / "dcp")
    for i in range(6):
        df = spark.range(i * 10, i * 10 + 3).selectExpr("id", "id * 2 AS v")
        write_delta(df, table, mode="append")
    before = snapshot_files(table)
    at4_via_json = snapshot_files(table, version=4)  # pure-JSON replay, pre-checkpoint
    assert checkpoint_delta(table, version=4) == 4
    # garbage below the checkpoint — a replay-of-latest that parses it
    # would raise; the checkpoint path never opens it
    with open(_version_file(table, 2), "w") as fh:
        fh.write("NOT JSON {{{")
    assert snapshot_files(table) == before
    # checkpoint-path replay of v4 must equal the pure-JSON replay taken
    # before the checkpoint existed (and must not touch the corrupt v2)
    assert snapshot_files(table, version=4) == at4_via_json
    # time travel BELOW the checkpoint still walks the JSON chain and
    # hits the corruption — explicit failure, not a silent wrong answer
    with pytest.raises(Exception):
        snapshot_files(table, version=3)


def test_delta_log_history_truncation_and_pointer_monotone(spark, tmp_path):
    """history() refuses to present a cleaned tail as the full audit
    trail (opt-in allow_truncated carries a truncated_below marker),
    and _last_checkpoint never regresses to an older version."""
    import pytest

    from etl_github_spark.io.delta_log import (
        _last_checkpoint,
        checkpoint_delta,
        cleanup_log,
        history,
        write_delta,
    )

    table = str(tmp_path / "dht")
    for i in range(7):
        df = spark.range(i * 10, i * 10 + 2).selectExpr("id", "id * 2 AS v")
        write_delta(df, table, mode="append")
    assert [r["version"] for r in history(table)] == list(range(7))

    # checkpointing an older version (JSON chain still retained, so the
    # old snapshot is replayable) leaves the newer pointer in place
    assert checkpoint_delta(table, version=5) == 5
    assert _last_checkpoint(table)["version"] == 5
    assert checkpoint_delta(table, version=3) == 3  # file written, not pointed
    assert _last_checkpoint(table)["version"] == 5

    cleanup_log(table)
    with pytest.raises(ValueError, match="truncated below version 6"):
        history(table)
    tail = history(table, allow_truncated=True)
    assert [r["version"] for r in tail] == [6]
    assert tail[0]["truncated_below"] == 6


def test_delta_log_partition_filter_key_validation(spark, tmp_path):
    """partition_filter keys must name recorded partition columns: a
    typo'd key would match nothing (silent empty scan) and a None
    value under a typo'd key would match EVERYTHING (None == missing),
    both silently wrong (review finding)."""
    import pytest

    from etl_github_spark.io.delta_log import read_delta, snapshot_files, write_delta

    part = str(tmp_path / "dpf")
    df = spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS day")
    write_delta(df, part, partition_by=("day",))
    assert len(snapshot_files(part, partition_filter={"day": "1"})) > 0
    with pytest.raises(ValueError, match="not partition columns"):
        snapshot_files(part, partition_filter={"date": "1"})
    with pytest.raises(ValueError, match="not partition columns"):
        read_delta(spark, part, partition_filter={"date": None})

    flat = str(tmp_path / "dpu")
    write_delta(spark.range(3).selectExpr("id", "id AS day"), flat)
    with pytest.raises(ValueError, match="not partition columns"):
        snapshot_files(flat, partition_filter={"day": "1"})


def test_delta_log_stats_skipping_semantics(spark, tmp_path):
    """Zone-map skipping: boundary-inclusive pruning proofs per op, a
    corrupt pruned file is never opened, files lacking stats on the
    column always survive, cross-type comparisons never prune, and
    malformed predicates raise."""
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        read_delta,
        snapshot_files,
        write_delta,
    )

    table = str(tmp_path / "dss")
    # three one-file commits with event ranges [0,9], [10,19], [20,29]
    for i in range(3):
        write_delta(
            spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v")
            .coalesce(1),
            table,
            mode="append",
            stats_cols=("id",),
        )
    allf = snapshot_files(table)
    assert len(allf) == 3

    # boundary semantics: > max is prunable, >= max is not
    assert len(snapshot_files(table, stats_filter=[("id", ">", 9)])) == 2
    assert len(snapshot_files(table, stats_filter=[("id", ">=", 9)])) == 3
    assert len(snapshot_files(table, stats_filter=[("id", "<", 10)])) == 1
    assert len(snapshot_files(table, stats_filter=[("id", "<=", 10)])) == 2
    assert len(snapshot_files(table, stats_filter=[("id", "=", 15)])) == 1
    assert len(snapshot_files(table, stats_filter=[("id", "==", 99)])) == 0

    # conjunction: range falling in the middle file prunes both others
    preds = [("id", ">=", 12), ("id", "<=", 17)]
    assert len(snapshot_files(table, stats_filter=preds)) == 1

    # a clobbered pruned file is never opened; predicate still re-applied
    for f in set(allf) - set(snapshot_files(table, stats_filter=preds)):
        with open(os.path.join(table, f), "wb") as fh:
            fh.write(b"garbage")
    got = (
        read_delta(spark, table, stats_filter=preds)
        .where("id >= 12 AND id <= 17")
        .agg({"id": "sum"})
        .first()[0]
    )
    assert got == sum(range(12, 18))

    # a column with no recorded stats can never prune
    assert len(snapshot_files(table, stats_filter=[("v", ">", 10**9)])) == 3
    # cross-type comparison keeps the file (never guess)
    assert len(snapshot_files(table, stats_filter=[("id", ">", "zzz")])) == 3

    with pytest.raises(ValueError, match="op in"):
        snapshot_files(table, stats_filter=[("id", "!=", 3)])
    with pytest.raises(ValueError, match="NULL predicates"):
        snapshot_files(table, stats_filter=[("id", "=", None)])


def test_delta_log_schema_evolution(spark, tmp_path):
    """merge_schema evolution: additive append commits a new metaData
    action; old files read back with nulls in the new column; time
    travel below the evolution commit uses the OLD schema; checkpoints
    carry the as-of schema; drops/renames/type changes still raise."""
    import pytest

    from etl_github_spark.io.delta_log import (
        checkpoint_delta,
        cleanup_log,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "dse")
    write_delta(spark.range(3).selectExpr("id", "id * 2 AS v"), table)  # v0
    write_delta(spark.range(3, 6).selectExpr("id", "id * 2 AS v"), table)  # v1

    widened = spark.range(6, 9).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    # without merge_schema the widened write raises
    with pytest.raises(ValueError, match="merge_schema=True"):
        write_delta(widened, table)
    assert write_delta(widened, table, merge_schema=True) == 2

    # latest snapshot: widened schema, nulls for pre-evolution files
    cur = read_delta(spark, table)
    assert cur.columns == ["id", "v", "tag"]
    got = {r["id"]: r["tag"] for r in cur.collect()}
    assert got == {i: (str(i) if i >= 6 else None) for i in range(9)}

    # time travel below the evolution commit: OLD schema
    old = read_delta(spark, table, version=1)
    assert old.columns == ["id", "v"]
    assert old.count() == 6

    # further appends must match the WIDENED schema now
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(spark.range(9, 10).selectExpr("id", "id * 2 AS v"), table)
    write_delta(
        spark.range(9, 10).selectExpr("id", "id * 2 AS v", "'x' AS tag"), table
    )  # v3

    # non-additive changes raise even with merge_schema
    for bad in (
        spark.range(1).selectExpr("id", "CAST(id AS STRING) AS v", "'x' AS tag"),
        spark.range(1).selectExpr("id", "id AS v2", "'x' AS tag"),
    ):
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(bad, table, merge_schema=True)

    # checkpoint + cleanup: the widened schema survives via the
    # checkpoint's metaData (the evolution JSON may be cleaned away)
    assert checkpoint_delta(table) == 3
    cleanup_log(table)
    cur2 = read_delta(spark, table)
    assert cur2.columns == ["id", "v", "tag"]
    assert cur2.count() == 10
    write_delta(
        spark.range(10, 11).selectExpr("id", "id * 2 AS v", "'y' AS tag"), table
    )
    assert read_delta(spark, table).count() == 11


def test_delta_optimize_compacts_and_preserves_snapshot(spark, tmp_path):
    """OPTIMIZE bin-packs each partition's small files into one,
    commits the swap with dataChange=false, and changes NOTHING about
    the snapshot's rows: read-back, stats-only high-water mark, and
    time travel to the pre-OPTIMIZE version all still answer exactly.
    The rewritten inputs stay on disk (vacuum owns deletion) so time
    travel below the OPTIMIZE commit keeps working."""
    from etl_github_spark.io.delta_log import (
        high_water_mark,
        history,
        optimize_delta,
        read_delta,
        snapshot_files,
        write_delta,
    )

    table = str(tmp_path / "dopt")
    for i in range(4):
        df = spark.range(i * 100, i * 100 + 50).selectExpr(
            "id", "id % 2 AS grp", "CAST(id % 3 AS STRING) AS day"
        ).coalesce(1)  # one file per day partition per append
        write_delta(df, table, mode="append", stats_cols=("id",),
                    partition_by=("day",) if i == 0 else ())
    files_before = snapshot_files(table)
    rows_before = sorted(
        tuple(r) for r in read_delta(spark, table).collect()
    )
    assert len(files_before) == 12  # 4 appends x 3 day partitions

    out = optimize_delta(spark, table, target_bytes=1 << 30)
    assert out == {"version": 4, "removed": 12, "added": 3}

    files_after = snapshot_files(table)
    assert len(files_after) == 3  # one per partition
    assert not set(files_after) & set(files_before)
    rows_after = sorted(tuple(r) for r in read_delta(spark, table).collect())
    assert rows_after == rows_before
    # stats survived the rewrite: hwm still answered from the log alone
    assert high_water_mark(table, "id") == 349
    # time travel below the OPTIMIZE commit still sees the old layout
    assert snapshot_files(table, version=3) == files_before
    rows_v3 = sorted(
        tuple(r) for r in read_delta(spark, table, version=3).collect()
    )
    assert rows_v3 == rows_before
    # the commit is flagged as no-data-change OPTIMIZE in history
    h = {row["version"]: row for row in history(table)}
    assert h[4]["operation"] == "OPTIMIZE"
    # partition pruning still works through the rewritten files
    one_day = read_delta(spark, table, partition_filter={"day": "1"})
    assert one_day.count() == sum(1 for r in rows_before if r[2] == "1")


def test_delta_optimize_nothing_to_do_commits_nothing(spark, tmp_path):
    """An already-compact table (one file per partition) must not gain
    an empty OPTIMIZE commit — version stays put, log untouched."""
    from etl_github_spark.io.delta_log import (
        optimize_delta,
        snapshot_files,
        write_delta,
    )

    table = str(tmp_path / "dnoop")
    df = spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1)
    write_delta(df, table, mode="append", stats_cols=("id",))
    before = snapshot_files(table)
    out = optimize_delta(spark, table, target_bytes=1 << 30)
    assert out == {"version": None, "removed": 0, "added": 0}
    assert snapshot_files(table) == before


def test_write_delta_append_retries_lost_version_race(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: a blind append that loses the version
    race re-validates against the new head and commits at the next
    version — both writers' rows land, nothing is lost, no orphan
    files. With retries=0 the loser still raises (old behavior)."""
    import etl_github_spark.io.delta_log as dl

    table = str(tmp_path / "drace")
    write_delta_rows = spark.range(10).selectExpr("id", "id * 2 AS v")
    dl.write_delta(write_delta_rows, table, mode="append")

    real_commit = dl._commit
    fired = {"n": 0}

    def racing_commit(t, version, actions):
        if fired["n"] == 0:
            fired["n"] += 1
            # another writer snatches this exact version first
            real_commit(
                t,
                version,
                [
                    {
                        "commitInfo": {
                            "operation": "WRITE",
                            "operationParameters": {"mode": "APPEND"},
                            "timestamp": 0,
                        }
                    }
                ],
            )
        return real_commit(t, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    more = spark.range(10, 20).selectExpr("id", "id * 2 AS v")
    v = dl.write_delta(more, table, mode="append", retries=2)
    assert v == 2  # lost v1, won v2
    monkeypatch.undo()
    got = sorted(r["id"] for r in dl.read_delta(spark, table).collect())
    assert got == list(range(20))

    # retries=0 keeps the strict loser semantics
    fired["n"] = 0
    monkeypatch.setattr(dl, "_commit", racing_commit)
    import pytest

    with pytest.raises(FileExistsError):
        dl.write_delta(
            spark.range(20, 30).selectExpr("id", "id * 2 AS v"),
            table,
            mode="append",
            retries=0,
        )


def test_write_delta_concurrent_appends_all_land(spark, tmp_path):
    """Four real threads appending at once after a version-0 write: every
    loser of a version race re-commits at the next version, so all four
    land — versions 0..4, every row exactly once, no lost update."""
    import threading

    from etl_github_spark.io.delta_log import history, read_delta, write_delta

    table = str(tmp_path / "dconc")
    write_delta(spark.createDataFrame([(0,)], "x long"), table)
    frames = {v: spark.createDataFrame([(v,)], "x long") for v in (1, 2, 3, 4)}
    errs, versions = [], []

    def appender(v):
        try:
            versions.append(write_delta(frames[v], table, mode="append", retries=4))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(v,)) for v in frames]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(versions) == [1, 2, 3, 4]
    assert [h["version"] for h in history(table)] == [0, 1, 2, 3, 4]
    assert sorted(r.x for r in read_delta(spark, table).collect()) == [0, 1, 2, 3, 4]


def test_read_delta_snapshot_survives_overwrite_commit(spark, tmp_path):
    """A frame resolved before an overwrite commit keeps reading the
    files of the version it resolved (no torn read); the new head
    reads only the overwrite."""
    from etl_github_spark.io.delta_log import read_delta, write_delta

    table = str(tmp_path / "dsnap")
    write_delta(spark.createDataFrame([(1,), (2,)], "x long"), table)
    snapshot = read_delta(spark, table)  # resolves version 0's files now
    write_delta(spark.createDataFrame([(9,)], "x long"), table, mode="overwrite")
    assert sorted(r.x for r in snapshot.collect()) == [1, 2]
    assert [r.x for r in read_delta(spark, table).collect()] == [9]


def _delta_vals(spark, table, version=None):
    from etl_github_spark.io.delta_log import read_delta

    return sorted(r.x for r in read_delta(spark, table, version=version).collect())


def test_write_delta_append_overwrite_and_time_travel(spark, tmp_path):
    """Appends accumulate, an overwrite replaces the head, and every
    earlier version stays readable by number."""
    from etl_github_spark.io.delta_log import history, write_delta

    table = str(tmp_path / "dtt")
    assert write_delta(spark.createDataFrame([(1,), (2,)], "x long"), table) == 0
    assert write_delta(spark.createDataFrame([(3,)], "x long"), table) == 1
    overwrite = spark.createDataFrame([(9,)], "x long")
    assert write_delta(overwrite, table, mode="overwrite") == 2

    assert _delta_vals(spark, table) == [9]  # head
    assert _delta_vals(spark, table, 0) == [1, 2]  # time travel
    assert _delta_vals(spark, table, 1) == [1, 2, 3]
    assert [h["version"] for h in history(table)] == [0, 1, 2]


def test_delta_crashed_writer_is_invisible_and_vacuumed(spark, tmp_path):
    """A writer that died after staging its data files but before its
    commit leaves files no version names: readers never see them and
    vacuum_delta reaps them, leaving the committed rows intact."""
    import os

    from etl_github_spark.io.delta_log import _stage_files, vacuum_delta, write_delta

    table = str(tmp_path / "dcrash")
    write_delta(spark.createDataFrame([(1,)], "x long"), table)
    # died between the data move and the commit: part files in the table
    # root that no log entry references
    orphans = [a["path"] for a in _stage_files(
        spark.createDataFrame([(999,)], "x long"), table, ()
    )]
    # died inside the Spark write: a staging dir left behind
    os.makedirs(os.path.join(table, ".stage-deadbeef"))

    assert orphans
    assert _delta_vals(spark, table) == [1]  # invisible to readers
    reaped = vacuum_delta(table, retention_seconds=0)
    assert reaped == sorted(orphans + [".stage-deadbeef"])
    assert _delta_vals(spark, table) == [1]
    assert vacuum_delta(table, retention_seconds=0) == []


def test_vacuum_delta_drops_history_but_keeps_retained(spark, tmp_path):
    """After checkpoint + log cleanup past an overwrite, vacuum_delta
    reaps the overwritten history's files; the head still reads and
    time travel into the dropped history raises."""
    import pytest

    from etl_github_spark.io.delta_log import (
        checkpoint_delta,
        cleanup_log,
        snapshot_files,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "dvac")
    write_delta(spark.createDataFrame([(1,)], "x long"), table)
    write_delta(spark.createDataFrame([(2,)], "x long"), table)
    write_delta(spark.createDataFrame([(7,)], "x long"), table, mode="overwrite")
    overwritten = snapshot_files(table, version=1)
    retained = snapshot_files(table)

    assert checkpoint_delta(table) == 2
    cleanup_log(table)
    reaped = vacuum_delta(table, retention_seconds=0)
    assert reaped == sorted(overwritten) and not set(reaped) & set(retained)
    assert _delta_vals(spark, table) == [7]
    with pytest.raises(ValueError):
        _delta_vals(spark, table, 1)


def test_write_delta_create_race_restages_under_winner_layout(
    spark, tmp_path, monkeypatch
):
    """Losing the CREATE race to a winner with a DIFFERENT partition
    layout: the loser's staged files (wrong layout) must be thrown away
    and restaged hive-partitioned per the winner's metaData — never
    committed with empty partitionValues into a partitioned table."""
    import json as _json
    import uuid as _uuid

    import etl_github_spark.io.delta_log as dl

    table = str(tmp_path / "dcreate")
    real_commit = dl._commit
    fired = {"n": 0}

    def racing_create(t, version, actions):
        if fired["n"] == 0:
            fired["n"] += 1
            real_commit(
                t,
                0,
                [
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                    {
                        "metaData": {
                            "id": _uuid.uuid4().hex,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": spark.range(1)
                            .selectExpr("id", "CAST(id AS STRING) AS day")
                            .schema.json(),
                            "partitionColumns": ["day"],
                            "configuration": {},
                            "createdTime": 0,
                        }
                    },
                    {"commitInfo": {"operation": "WRITE",
                                    "operationParameters": {"mode": "APPEND"},
                                    "timestamp": 0}},
                ],
            )
        return real_commit(t, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_create)
    df = spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS day")
    v = dl.write_delta(df, table, mode="append", retries=1)
    assert v == 1
    monkeypatch.undo()
    # every committed file carries the winner's partitionValues and
    # lives under a hive dir; the read round-trips
    for add in dl._replay(table).values():
        assert set(add["partitionValues"]) == {"day"}
        assert add["path"].startswith("day=")
    got = sorted(
        (r["id"], r["day"]) for r in dl.read_delta(spark, table).collect()
    )
    assert got == [(i, str(i % 2)) for i in range(6)]


def test_delta_change_feed_skips_optimize_and_refuses_removes(spark, tmp_path):
    """delta_changes delivers exactly the rows added by data-changing
    commits in the range: OPTIMIZE rewrites are skipped (no compaction
    double-count), overwrites raise, a cleaned-up range raises, and an
    empty range returns an empty typed frame."""
    import pytest

    from etl_github_spark.io.delta_log import (
        checkpoint_delta,
        cleanup_log,
        delta_changes,
        optimize_delta,
        write_delta,
    )

    table = str(tmp_path / "dcdf")
    for lo, hi in ((0, 10), (10, 20)):
        write_delta(
            spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1),
            table,
            mode="append",
        )
    assert optimize_delta(spark, table, target_bytes=1 << 30)["version"] == 2
    write_delta(
        spark.range(20, 30).selectExpr("id", "id * 2 AS v").coalesce(1),
        table,
        mode="append",
    )

    got = delta_changes(spark, table, from_version=0).collect()
    by_v = {}
    for r in got:
        by_v.setdefault(r["_commit_version"], []).append(r["id"])
    assert sorted(by_v) == [1, 3]  # v2 (OPTIMIZE) contributed nothing
    assert sorted(by_v[1]) == list(range(10, 20))
    assert sorted(by_v[3]) == list(range(20, 30))

    # empty range: typed empty frame, schema + marker column intact
    empty = delta_changes(spark, table, from_version=3)
    assert empty.columns == ["id", "v", "_commit_version"]
    assert empty.count() == 0

    # overwrite inside the range refuses (remove with dataChange=true)
    write_delta(
        spark.range(5).selectExpr("id", "id * 2 AS v").coalesce(1),
        table,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="append-only"):
        delta_changes(spark, table, from_version=3)
    # ranges strictly after the overwrite still work
    assert delta_changes(spark, table, from_version=4).count() == 0

    # cleaned prefix inside the range refuses
    checkpoint_delta(table)
    cleanup_log(table)
    with pytest.raises(ValueError, match="cleaned"):
        delta_changes(spark, table, from_version=0, to_version=3)


def test_zorder_delta_clusters_per_partition_and_preserves_rows(spark, tmp_path):
    """OPTIMIZE ZORDER BY: rewrites each partition into the requested
    number of rank-balanced files, preserves every row, records stats
    on BOTH clustered columns, and actually prunes a 2-D box query
    (neither key alone could bound both dimensions per file)."""
    import json as _json

    from etl_github_spark.io.delta_log import (
        _replay,
        read_delta,
        snapshot_files,
        write_delta,
        zorder_delta,
    )

    table = str(tmp_path / "dz")
    df = spark.range(4096).selectExpr(
        "id AS a",
        "CAST((id * 2654435761) % 4096 AS LONG) AS b",  # decorrelated dim
        "CAST(id % 2 AS STRING) AS part",
    ).coalesce(1)
    write_delta(df, table, mode="append", partition_by=("part",))
    out = zorder_delta(spark, table, ("a", "b"), n_files=4, tiebreak="a")
    assert out["version"] == 1 and out["files"] == 8  # 4 per partition

    rows = read_delta(spark, table)
    assert rows.count() == 4096
    for add in _replay(table).values():
        stats = _json.loads(add["stats"])
        assert set(stats["minValues"]) == {"a", "b"}
        assert set(add["partitionValues"]) == {"part"}

    # a box on (a, b) must keep strictly fewer than all files
    preds = [("a", ">=", 0), ("a", "<=", 1023), ("b", ">=", 0), ("b", "<=", 1023)]
    kept = snapshot_files(table, stats_filter=preds)
    assert 0 < len(kept) < 8
    got = (
        read_delta(spark, table, stats_filter=preds)
        .where("a BETWEEN 0 AND 1023 AND b BETWEEN 0 AND 1023")
        .count()
    )
    want = rows.where("a BETWEEN 0 AND 1023 AND b BETWEEN 0 AND 1023").count()
    assert got == want


def test_optimize_delta_lost_race_raises_and_unstages(spark, tmp_path, monkeypatch):
    """OPTIMIZE plans against a snapshot; if any commit lands between
    the plan and the publish, the version claim must CONFLICT (raise)
    rather than committing a remove-set computed against stale state —
    and the staged rewrite files must be cleaned up."""
    import glob
    import os

    import pytest

    import etl_github_spark.io.delta_log as dl

    table = str(tmp_path / "doptrace")
    for i in range(2):
        dl.write_delta(
            spark.range(i * 10, i * 10 + 10).selectExpr("id", "id*2 AS v").coalesce(1),
            table,
            mode="append",
        )
    real_commit = dl._commit

    def racing_commit(t, version, actions):
        # a concurrent append snatches the version OPTIMIZE planned for
        real_commit(t, version, [{"commitInfo": {"operation": "WRITE",
                    "operationParameters": {"mode": "APPEND"}, "timestamp": 0}}])
        return real_commit(t, version, actions)

    monkeypatch.setattr(dl, "_commit", racing_commit)
    with pytest.raises(FileExistsError):
        dl.optimize_delta(spark, table, target_bytes=1 << 30)
    monkeypatch.undo()
    # no staged orphans left behind: every data file is log-referenced
    live = set(dl._replay(table))
    on_disk = {
        os.path.relpath(f, table)
        for f in glob.glob(os.path.join(table, "**", "part-*.parquet"),
                           recursive=True)
    }
    assert on_disk == live
    # the table still reads and a re-run (fresh plan) succeeds
    assert dl.read_delta(spark, table).count() == 20
    assert dl.optimize_delta(spark, table, target_bytes=1 << 30)["removed"] == 2


def test_delta_deletion_vectors_lifecycle(spark, tmp_path):
    """Merge-on-read DELETE: the DV commit touches ZERO data-file
    bytes, reads anti-join the vector, time travel below the delete
    sees every row, a second overlapping delete unions into a fresh
    sidecar, stats-only watermarks refuse loose bounds, and PURGE
    rewrites the files clean (logical rows unchanged, DVs gone,
    z-order re-enabled)."""
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _replay,
        delete_delta_dv,
        delta_changes,
        high_water_mark,
        materialize_deletes,
        optimize_delta,
        read_delta,
        write_delta,
        zorder_delta,
    )

    table = str(tmp_path / "ddv")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    write_delta(df.repartition(2), table, stats_cols=("id",))
    datafiles = sorted(_replay(table))
    fingerprint = {
        f: (os.path.getsize(os.path.join(table, f)),
            os.path.getmtime(os.path.join(table, f)))
        for f in datafiles
    }
    assert high_water_mark(table, "id") == 99

    out = delete_delta_dv(spark, table, "id % 3 = 0")
    assert out["version"] == 1 and out["deleted_rows"] == 34
    # the deleted rows are gone from the snapshot…
    got = sorted(r["id"] for r in read_delta(spark, table).collect())
    assert got == [i for i in range(100) if i % 3 != 0]
    # …but NO data file was rewritten, and v0 still reads them raw
    assert {
        f: (os.path.getsize(os.path.join(table, f)),
            os.path.getmtime(os.path.join(table, f)))
        for f in datafiles
    } == fingerprint
    assert read_delta(spark, table, version=0).count() == 100
    # stats are loose bounds now: the stats-only watermark must refuse
    assert high_water_mark(table, "id") is None

    # overlapping second delete unions into the per-file vector
    out2 = delete_delta_dv(spark, table, "id % 5 = 0")
    assert out2["version"] == 2
    keep = [i for i in range(100) if i % 3 != 0 and i % 5 != 0]
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == keep
    # intermediate version still answers between the two deletes
    assert read_delta(spark, table, version=1).count() == 66

    # the append-only change feed cannot represent the delete
    with pytest.raises(ValueError, match="append-only"):
        delta_changes(spark, table, from_version=0)
    # clustering refuses raw bytes that would resurrect deleted rows
    with pytest.raises(ValueError, match="materialize"):
        zorder_delta(spark, table, ("id",), n_files=2, tiebreak="id")
    # OPTIMIZE skips the DV'd files rather than resurrecting rows
    assert optimize_delta(spark, table, target_bytes=1 << 30)["version"] is None

    # PURGE: logical rows unchanged, DVs gone, stats tight again
    out3 = materialize_deletes(spark, table)
    assert out3 == {"version": 3, "files": 2}
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == keep
    assert not any("deletionVector" in a for a in _replay(table).values())
    assert high_water_mark(table, "id") == max(keep)
    assert zorder_delta(spark, table, ("id",), n_files=2, tiebreak="id")[
        "files"
    ] == 2
    # the purge commit is no-data-change: the feed delivers nothing new
    assert delta_changes(spark, table, from_version=2).count() == 0


def test_purge_rewrites_every_dv_file_in_one_job(spark, tmp_path):
    """PURGE is one bin rewrite, not one rewrite job per DV'd file: over
    two and over four DV'd files it runs the same number of Spark jobs
    (counted per job group with the status tracker), and the logical
    rows stay the same."""
    from etl_github_spark.io.delta_log import (
        _replay,
        delete_delta_dv,
        materialize_deletes,
        read_delta,
        write_delta,
    )

    sc = spark.sparkContext
    jobs = {}
    for n in (2, 4):
        table = str(tmp_path / f"purge{n}")
        df = spark.range(40 * n).selectExpr("id", "id * 2 AS v").repartition(n)
        write_delta(df, table, stats_cols=("id",))
        delete_delta_dv(spark, table, "id % 3 = 0")
        assert sum("deletionVector" in a for a in _replay(table).values()) == n
        want = sorted(r["id"] for r in read_delta(spark, table).collect())
        sc.setJobGroup(f"purge-{n}", "materialize_deletes")
        try:
            assert materialize_deletes(spark, table)["files"] == n
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"purge-{n}"))
        assert sorted(r["id"] for r in read_delta(spark, table).collect()) == want
        assert not any("deletionVector" in a for a in _replay(table).values())
    assert jobs[2] == jobs[4], jobs


def test_read_delta_reads_row_metadata_only_through_deletion_vectors(
    spark, tmp_path, capsys
):
    """A table with no deletion vectors scans its files plainly: the
    physical plan of read_delta reads no `_metadata` column. Once a
    file carries a vector, the scan reads its row index to apply it."""
    from etl_github_spark.io.delta_log import delete_delta_dv, read_delta, write_delta

    table = str(tmp_path / "plain")
    write_delta(spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(1), table)

    def plan() -> str:
        read_delta(spark, table).explain(mode="formatted")
        return capsys.readouterr().out

    assert "_metadata" not in plan()
    delete_delta_dv(spark, table, "id < 5")
    assert "row_index" in plan()


def test_delta_dv_survives_checkpoint_and_vacuum(spark, tmp_path):
    """DV references round-trip through parquet checkpoints (replay
    from a cleaned log still filters), vacuum keeps referenced
    sidecars and reaps superseded ones, and partition-filtered reads
    compose with DV filtering."""
    import glob
    import os

    from etl_github_spark.io.delta_log import (
        checkpoint_delta,
        cleanup_log,
        delete_delta_dv,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "ddvc")
    df = spark.range(90).selectExpr("id", "CAST(id % 3 AS STRING) AS part")
    write_delta(df.coalesce(1), table, partition_by=("part",))
    delete_delta_dv(spark, table, "id % 2 = 0")        # DV v1
    delete_delta_dv(spark, table, "id % 9 = 1")        # union → fresh sidecars, v2
    keep = [i for i in range(90) if i % 2 != 0 and i % 9 != 1]

    checkpoint_delta(table)
    cleanup_log(table)
    # replay is checkpoint-only now; DV filtering must survive it
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == keep
    one_part = read_delta(spark, table, partition_filter={"part": "1"})
    assert sorted(r["id"] for r in one_part.collect()) == [
        i for i in keep if i % 3 == 1
    ]

    # vacuum: superseded v1 sidecars reaped, referenced v2 ones kept
    n_sidecars_before = len(glob.glob(os.path.join(table, "deletion-vector-*")))
    reaped = vacuum_delta(table, retention_seconds=0)
    assert any(r.startswith("deletion-vector-") for r in reaped)
    n_after = len(glob.glob(os.path.join(table, "deletion-vector-*")))
    assert 0 < n_after < n_sidecars_before
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == keep


def test_delta_merge_dv_lifecycle(spark, tmp_path):
    """Merge-on-read MERGE: matched target rows are DV-deleted (zero
    data-file rewrites), replacements + unmatched source rows append in
    the SAME commit, duplicate target keys are all replaced, rows
    already DV-deleted never match, key-duplicated sources raise, and
    time travel below the merge sees the pre-merge rows."""
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _replay,
        delete_delta_dv,
        merge_delta_dv,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "mrg")
    base = spark.range(10).selectExpr("id", "id * 10 AS v")
    write_delta(base.repartition(2), table, stats_cols=("id",))
    datafiles = sorted(_replay(table))
    sizes = {f: os.path.getsize(os.path.join(table, f)) for f in datafiles}

    src = spark.createDataFrame(
        [(3, 999), (7, 888), (20, 111), (21, 222)], "id long, v long"
    )
    out = merge_delta_dv(spark, table, src, on=("id",))
    assert out["version"] == 1
    assert out["updated"] == 2 and out["inserted"] == 2
    # the original files were NOT rewritten
    assert {
        f: os.path.getsize(os.path.join(table, f)) for f in datafiles
    } == sizes
    got = {r["id"]: r["v"] for r in read_delta(spark, table).collect()}
    expect = {i: i * 10 for i in range(10)} | {3: 999, 7: 888, 20: 111, 21: 222}
    assert got == expect
    # time travel below the merge: pre-merge rows intact
    assert {r["id"]: r["v"] for r in read_delta(spark, table, version=0).collect()} == {
        i: i * 10 for i in range(10)
    }

    # a row DV-deleted earlier must NOT match (no resurrection-as-update)
    delete_delta_dv(spark, table, "id = 20")
    out2 = merge_delta_dv(
        spark, table, spark.createDataFrame([(20, 555)], "id long, v long"), on=("id",)
    )
    assert out2["updated"] == 0 and out2["inserted"] == 1
    assert {r["v"] for r in read_delta(spark, table).where("id = 20").collect()} == {555}

    # duplicate-key TARGET rows are each replaced (multiplicity kept)
    from etl_github_spark.io.delta_log import write_delta as _wd

    _wd(spark.createDataFrame([(5, 1)], "id long, v long"), table)  # second id=5 row
    out3 = merge_delta_dv(
        spark, table, spark.createDataFrame([(5, 777)], "id long, v long"), on=("id",)
    )
    assert out3["updated"] == 2 and out3["inserted"] == 0
    assert [r["v"] for r in read_delta(spark, table).where("id = 5").collect()] == [
        777,
        777,
    ]

    # key-duplicated source is Delta's multiple-source-row error
    with pytest.raises(ValueError, match="key-unique"):
        merge_delta_dv(
            spark,
            table,
            spark.createDataFrame([(1, 2), (1, 3)], "id long, v long"),
            on=("id",),
        )
    # schema drift raises
    with pytest.raises(ValueError, match="MERGE does not evolve"):
        merge_delta_dv(
            spark, table, spark.createDataFrame([(1, 2)], "id long, w long"), on=("id",)
        )
    # empty source: no empty commit
    assert merge_delta_dv(
        spark, table, spark.createDataFrame([], "id long, v long"), on=("id",)
    )["version"] is None


def test_delta_merge_dv_deletes_clause(spark, tmp_path):
    """``deletes`` is WHEN MATCHED THEN DELETE as data: tombstoned keys
    are DV-deleted wherever they live and land in the SAME commit as the
    upserts (one MERGE in history); deleting an absent key is a no-op
    with no commit; a key in both frames raises."""
    import pytest

    from etl_github_spark.io.delta_log import history, merge_delta_dv, read_delta, write_delta

    table = str(tmp_path / "mdel")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
            "k long, dept string, v long",
        ),
        table,
        partition_by=("dept",),
    )
    keys = lambda *ks: spark.createDataFrame([(k,) for k in ks], "k long")  # noqa: E731

    out = merge_delta_dv(
        spark,
        table,
        spark.createDataFrame([(2, "b", 21), (5, "a", 50)], "k long, dept string, v long"),
        on=("k",),
        deletes=keys(1, 3, 99),
    )
    assert out["version"] == 1
    assert (out["updated"], out["inserted"], out["deleted"]) == (1, 1, 2)
    assert [h["operation"] for h in history(table)] == ["WRITE", "MERGE"]
    assert sorted(tuple(r) for r in read_delta(spark, table).collect()) == [
        (2, "b", 21),  # moved partition: the old copy in dept=a is gone
        (4, "b", 40),
        (5, "a", 50),
    ]

    empty = spark.createDataFrame([], "k long, dept string, v long")
    absent = merge_delta_dv(spark, table, empty, on=("k",), deletes=keys(1, 99))
    assert absent["version"] is None and absent["deleted"] == 0
    assert len(history(table)) == 2

    with pytest.raises(ValueError, match="both source and deletes"):
        merge_delta_dv(
            spark,
            table,
            spark.createDataFrame([(4, "b", 41)], "k long, dept string, v long"),
            on=("k",),
            deletes=keys(4),
        )
    assert len(history(table)) == 2


def test_delta_restore_lifecycle(spark, tmp_path):
    """RESTORE: reverts data and schema to an as-of version as a NEW
    commit (history preserved), copies DV references verbatim, no-ops
    on the current state, and refuses when the needed files were
    vacuumed (no partial restore)."""
    import pytest

    from etl_github_spark.io.delta_log import (
        delete_delta_dv,
        history,
        read_delta,
        restore_delta,
        write_delta,
    )

    table = str(tmp_path / "rst")
    write_delta(spark.range(10).selectExpr("id", "id AS v"), table)      # v0
    write_delta(spark.range(10, 15).selectExpr("id", "id AS v"), table)  # v1
    delete_delta_dv(spark, table, "id < 3")                              # v2 (DV)
    # widen schema (additive evolution)                                  v3
    write_delta(
        spark.range(15, 16).selectExpr("id", "id AS v", "id AS extra"),
        table,
        merge_schema=True,
    )

    # restore to v2: DV reference must travel with the restore
    out = restore_delta(table, 2)
    assert out["version"] == 4 and out["removed_files"] == 1
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == list(
        range(3, 15)
    )
    assert "extra" not in read_delta(spark, table).columns  # schema reverted
    # restore to v0: the DV'd file's PRE-DV add entry returns
    out0 = restore_delta(table, 0)
    assert sorted(r["id"] for r in read_delta(spark, table).collect()) == list(
        range(10)
    )
    # history is append-only: every restore is a new commit
    assert [h["version"] for h in history(table)][-2:] == [4, 5]
    # no-op restore: already at v0's state
    assert restore_delta(table, 0)["version"] is None
    # restoring to the latest literal version is also a no-op
    assert restore_delta(table, 5)["version"] is None

    # a missing file (e.g. an aggressive external cleanup) makes a
    # restore impossible — loudly, before anything is committed
    import os as _os

    from etl_github_spark.io.delta_log import _replay as _rp

    victim = sorted(set(_rp(table, 3)) - set(_rp(table)))[0]
    _os.remove(_os.path.join(table, victim))
    with pytest.raises(ValueError, match="vacuumed"):
        restore_delta(table, 3)


def test_delta_dv_review_fixes(spark, tmp_path):
    """Pins the round-7 review findings: the change feed refuses RESTORE
    commits (their adds re-deliver consumed rows), PURGE drops a fully-
    deleted file instead of committing a 0-row live add (stats-only
    watermarks stay tight), null-keyed merge-source rows are inserts
    (not a false key-uniqueness error), and user columns colliding with
    the DV machinery's reserved names raise loudly."""
    import pytest

    from etl_github_spark.io.delta_log import (
        _replay,
        delete_delta_dv,
        delta_changes,
        high_water_mark,
        materialize_deletes,
        merge_delta_dv,
        read_delta,
        restore_delta,
        write_delta,
    )

    # change feed refuses RESTORE (re-adds without removes)
    t1 = str(tmp_path / "cf")
    write_delta(spark.range(10).selectExpr("id", "id AS v"), t1)
    delete_delta_dv(spark, t1, "id < 4")
    restore_delta(t1, 0)
    with pytest.raises(ValueError, match="RESTORE"):
        delta_changes(spark, t1, from_version=1)

    # PURGE of a fully-deleted file commits only the remove
    t2 = str(tmp_path / "pg")
    write_delta(spark.range(5).selectExpr("id", "id AS v"), t2,
                stats_cols=("id",))
    write_delta(
        spark.range(100, 105).selectExpr("id", "id AS v"), t2,
        stats_cols=("id",),
    )
    delete_delta_dv(spark, t2, "id >= 100")
    materialize_deletes(spark, t2)
    live = _replay(t2)
    assert not any("deletionVector" in a for a in live.values())
    import json as _json

    assert all(
        _json.loads(a["stats"])["numRecords"] > 0
        for a in live.values()
        if "stats" in a
    )
    assert high_water_mark(t2, "id") == 4  # tight again, not None
    assert sorted(r["id"] for r in read_delta(spark, t2).collect()) == list(range(5))

    # null-keyed source rows are inserts, not a uniqueness error
    out = merge_delta_dv(
        spark,
        t2,
        spark.createDataFrame([(None, 7), (None, 8), (3, 33)], "id long, v long"),
        on=("id",),
    )
    assert out["updated"] == 1 and out["inserted"] == 2
    got = read_delta(spark, t2)
    assert got.where("id IS NULL").count() == 2
    assert got.where("id = 3").collect()[0]["v"] == 33

    # reserved internal names refuse loudly before any DV join
    t3 = str(tmp_path / "rsv")
    write_delta(
        spark.range(4).selectExpr("id", "id AS __delta_dv_pos"), t3
    )
    with pytest.raises(ValueError, match="reserved"):
        delete_delta_dv(spark, t3, "id = 1")


def test_delta_restore_claims_version_at_plan_time(spark, tmp_path, monkeypatch):
    """A commit landing after restore's snapshot diff must surface as an
    explicit version conflict, never a silently stale 'restore'."""
    import pytest

    from etl_github_spark.io import delta_log as dl

    table = str(tmp_path / "rc")
    dl.write_delta(spark.range(5).selectExpr("id", "id AS v"), table)
    dl.write_delta(spark.range(5, 8).selectExpr("id", "id AS v"), table)

    real_replay = dl._replay
    raced = {"done": False}

    def replay_with_race(t, version=None):
        out = real_replay(t, version)
        if not raced["done"] and version is None:
            raced["done"] = True  # concurrent append lands mid-plan
            dl.write_delta(
                spark.range(100, 101).selectExpr("id", "id AS v"), table
            )
        return out

    monkeypatch.setattr(dl, "_replay", replay_with_race)
    with pytest.raises(FileExistsError):
        dl.restore_delta(table, 0)
    monkeypatch.undo()
    # nothing was committed by the loser; the racer's row is intact
    assert dl.read_delta(spark, table).where("id = 100").count() == 1


def test_delta_txn_idempotent_writes(spark, tmp_path, monkeypatch):
    """The protocol's txn action: duplicate (appId, version) appends are
    skipped, higher versions commit, per-app bookkeeping is isolated, a
    lost version race against your own crashed duplicate resolves to a
    skip (not a double-write), and checkpoint-cleaned txn visibility
    raises instead of guessing."""
    import pytest

    from etl_github_spark.io import delta_log as dl

    table = str(tmp_path / "txn")
    df = spark.range(5).selectExpr("id", "id AS v")
    assert dl.write_delta(df, table, txn=("app", 0)) == 0
    assert dl.write_delta(df, table, txn=("app", 0)) is None  # duplicate
    assert dl.read_delta(spark, table).count() == 5
    assert dl.write_delta(df, table, txn=("app", 1)) == 1  # next batch
    assert dl.write_delta(df, table, txn=("app", 1)) is None
    assert dl.write_delta(df, table, txn=("other", 0)) == 2  # per-app
    assert dl.last_txn_version(table, "app") == 1
    assert dl.last_txn_version(table, "other") == 0
    assert dl.last_txn_version(table, "nobody") is None
    assert dl.read_delta(spark, table).count() == 15
    with pytest.raises(ValueError, match="append commits only"):
        dl.write_delta(df, table, mode="overwrite", txn=("app", 9))

    # losing the version race to your own duplicate resolves to a skip:
    # the duplicate commits between this attempt's txn check and its
    # _commit; the retry re-checks and returns None
    real_next = dl._next_version
    raced = {"done": False}

    def next_with_duplicate_race(t):
        v = real_next(t)
        if not raced["done"]:
            raced["done"] = True
            dl.write_delta(df, table, txn=("app", 2))  # the zombie twin
        return v

    monkeypatch.setattr(dl, "_next_version", next_with_duplicate_race)
    assert dl.write_delta(df, table, txn=("app", 2), retries=3) is None
    monkeypatch.undo()
    assert dl.read_delta(spark, table).count() == 20  # twin's rows only

    # checkpoint-cleaned prefix with no retained txn => loud refusal
    dl.checkpoint_delta(table)
    dl.cleanup_log(table)
    with pytest.raises(ValueError, match="visibility"):
        dl.last_txn_version(table, "app")


def test_delta_shallow_clone_lifecycle(spark, tmp_path):
    """Shallow clone: zero bytes copied, clone reads the source snapshot
    (DVs included), writes/deletes/purges on the clone are copy-on-write
    into the clone's root, the source log and files stay byte-identical,
    and the clone's vacuum never reaches into the source."""
    import glob
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _replay,
        clone_delta,
        delete_delta_dv,
        materialize_deletes,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta(
        spark.range(20).selectExpr("id", "id * 2 AS v"), src,
        stats_cols=("id",),
    )
    delete_delta_dv(spark, src, "id >= 15")  # clone must read through this
    src_files = {
        f: os.path.getmtime(os.path.join(src, f))
        for f in glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
    }
    out = clone_delta(src, dst)
    assert out["version"] == 0 and out["files"] >= 1
    # zero-copy: no data files under the clone yet
    assert not glob.glob(os.path.join(dst, "part-*.parquet"))
    assert sorted(r["id"] for r in read_delta(spark, dst).collect()) == list(range(15))

    # copy-on-write: append + delete + purge land under the CLONE
    write_delta(spark.range(100, 105).selectExpr("id", "id * 2 AS v"), dst)
    delete_delta_dv(spark, dst, "id < 5")
    materialize_deletes(spark, dst)
    keep = list(range(5, 15)) + list(range(100, 105))
    assert sorted(r["id"] for r in read_delta(spark, dst).collect()) == keep
    # the source never changed: same log tip, same file mtimes
    assert sorted(r["id"] for r in read_delta(spark, src).collect()) == list(range(15))
    assert {
        f: os.path.getmtime(os.path.join(src, f))
        for f in src_files
    } == src_files
    # clone's vacuum reaps only clone-local garbage
    reaped = vacuum_delta(dst, retention_seconds=0)
    assert all(not r.startswith("/") for r in reaped)
    assert sorted(r["id"] for r in read_delta(spark, src).collect()) == list(range(15))

    # partitioned sources are refused loudly
    psrc = str(tmp_path / "psrc")
    write_delta(
        spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS part"),
        psrc,
        partition_by=("part",),
    )
    with pytest.raises(ValueError, match="partitioned"):
        clone_delta(psrc, str(tmp_path / "pdst"))
    # existing destinations are refused
    with pytest.raises(ValueError, match="already exists"):
        clone_delta(src, dst)


def test_delta_check_constraints(spark, tmp_path):
    """CHECK constraints: existing violations block ADD CONSTRAINT,
    appends/overwrites/merges of violating rows are refused with the
    per-constraint counts, UNKNOWN (null) passes per SQL semantics,
    DROP removes enforcement, and the clone inherits the source's
    constraints via the copied metaData."""
    import pytest

    from etl_github_spark.io.delta_log import (
        add_constraint,
        clone_delta,
        drop_constraint,
        merge_delta_dv,
        read_delta,
        write_delta,
    )

    table = str(tmp_path / "ck")
    write_delta(
        spark.createDataFrame([(1, 10), (2, None)], "id long, v long"), table
    )
    # UNKNOWN passes: the null-v row does not block v >= 0
    add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="existing row"):
        add_constraint(spark, table, "id_big", "id >= 100")

    # violating append refused, nothing committed
    with pytest.raises(ValueError, match="v_nonneg"):
        write_delta(
            spark.createDataFrame([(3, -1)], "id long, v long"), table
        )
    assert read_delta(spark, table).count() == 2
    # violating MERGE source refused too
    with pytest.raises(ValueError, match="v_nonneg"):
        merge_delta_dv(
            spark,
            table,
            spark.createDataFrame([(1, -5)], "id long, v long"),
            on=("id",),
        )
    # valid rows (and nulls) land
    write_delta(spark.createDataFrame([(3, None)], "id long, v long"), table)
    assert read_delta(spark, table).count() == 3

    # the clone inherits the constraint
    dst = str(tmp_path / "ck_clone")
    clone_delta(table, dst)
    with pytest.raises(ValueError, match="v_nonneg"):
        write_delta(spark.createDataFrame([(9, -9)], "id long, v long"), dst)

    # drop removes enforcement (and unknown names raise)
    with pytest.raises(ValueError, match="no constraint"):
        drop_constraint(table, "nope")
    drop_constraint(table, "v_nonneg")
    write_delta(spark.createDataFrame([(4, -1)], "id long, v long"), table)
    assert read_delta(spark, table).where("v < 0").count() == 1


def test_delta_column_mapping_lifecycle(spark, tmp_path):
    """Column mapping mode 'name': rename and drop are metaData-only
    (zero bytes rewritten), appends after a rename land under stable
    physical names, time travel below the rename/drop sees the old
    logical schema, stats-only watermarks survive renames, constraints
    block renames/drops of referenced columns, and the rewrite-shaped
    ops refuse mapped tables loudly."""
    import glob
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        add_constraint,
        delete_delta_dv,
        drop_column,
        drop_constraint,
        enable_column_mapping,
        high_water_mark,
        optimize_delta,
        read_delta,
        rename_column,
        write_delta,
    )

    table = str(tmp_path / "cm")
    write_delta(
        spark.range(10).selectExpr("id", "id * 2 AS v", "id % 3 AS grp"),
        table,
        stats_cols=("id",),
    )                                      # v0
    with pytest.raises(ValueError, match="column mapping"):
        rename_column(table, "v", "val")   # not enabled yet
    enable_column_mapping(table)           # v1
    files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(table, "part-*.parquet"))
    }
    rename_column(table, "v", "val")       # v2, metaData-only
    assert {
        f: os.path.getmtime(f)
        for f in files_before
    } == files_before
    got = read_delta(spark, table)
    assert got.columns == ["id", "val", "grp"]
    assert sorted(r["val"] for r in got.collect()) == [i * 2 for i in range(10)]
    # time travel below the rename: old logical name
    assert read_delta(spark, table, version=0).columns == ["id", "v", "grp"]
    # stats watermark survives (physical key unchanged)
    assert high_water_mark(table, "id") == 9

    # appends after the rename use the LOGICAL name and stay readable
    write_delta(
        spark.range(10, 12).selectExpr("id", "id * 2 AS val", "id % 3 AS grp"),
        table,
        stats_cols=("id",),
    )                                      # v3
    assert read_delta(spark, table).count() == 12
    assert high_water_mark(table, "id") == 11
    # the old logical name is gone
    with pytest.raises(Exception, match="v"):
        write_delta(
            spark.range(1).selectExpr("id", "id AS v", "id % 3 AS grp"), table
        )

    # drop: metaData-only, time travel still sees the column
    drop_column(table, "grp")              # v4
    assert read_delta(spark, table).columns == ["id", "val"]
    assert read_delta(spark, table, version=3).columns == ["id", "val", "grp"]

    # constraints guard rename/drop of referenced columns
    add_constraint(spark, table, "val_nonneg", "val >= 0")
    with pytest.raises(ValueError, match="val_nonneg"):
        rename_column(table, "val", "value")
    with pytest.raises(ValueError, match="val_nonneg"):
        drop_column(table, "val")
    drop_constraint(table, "val_nonneg")
    rename_column(table, "val", "value")
    assert read_delta(spark, table).columns == ["id", "value"]

    # rewrite-shaped ops refuse mapped tables loudly
    with pytest.raises(ValueError, match="column-mapped"):
        delete_delta_dv(spark, table, "id = 1")
    with pytest.raises(ValueError, match="column-mapped"):
        optimize_delta(spark, table)
    # schema evolution refuses too (column-id assignment out of scope)
    with pytest.raises(ValueError, match="column-mapped|column-id"):
        write_delta(
            spark.range(1).selectExpr("id", "id AS value", "id AS extra"),
            table,
            merge_schema=True,
        )


def test_delta_r7_review_fixes_second_pass(spark, tmp_path):
    """Pins the second r7 review batch: checkpoints carry metaData
    configuration (constraints + column mapping survive log cleanup),
    OPTIMIZE/ZORDER on a shallow clone rewrite into the CLONE's root,
    restore re-validates current CHECK constraints, and feature commits
    bump the protocol action per spec."""
    import glob
    import os

    import pytest

    from etl_github_spark.io.delta_log import (
        _table_protocol,
        add_constraint,
        checkpoint_delta,
        cleanup_log,
        clone_delta,
        enable_column_mapping,
        optimize_delta,
        read_delta,
        rename_column,
        restore_delta,
        write_delta,
        zorder_delta,
    )

    # constraints survive a checkpoint + log cleanup
    t1 = str(tmp_path / "ckpt_conf")
    write_delta(spark.range(5).selectExpr("id", "id AS v"), t1)
    add_constraint(spark, t1, "v_nonneg", "v >= 0")
    assert _table_protocol(t1)["minWriterVersion"] >= 3  # spec bump
    checkpoint_delta(t1)
    cleanup_log(t1)
    with pytest.raises(ValueError, match="v_nonneg"):
        write_delta(spark.createDataFrame([(9, -1)], "id long, v long"), t1)

    # column mapping survives a checkpoint + log cleanup
    t2 = str(tmp_path / "ckpt_map")
    write_delta(spark.range(5).selectExpr("id", "id * 3 AS v"), t2)
    enable_column_mapping(t2)
    proto = _table_protocol(t2)
    assert proto["minReaderVersion"] >= 2 and proto["minWriterVersion"] >= 5
    rename_column(t2, "v", "val")
    checkpoint_delta(t2)
    cleanup_log(t2)
    got = read_delta(spark, t2)
    assert got.columns == ["id", "val"]
    assert sorted(r["val"] for r in got.collect()) == [0, 3, 6, 9, 12]
    write_delta(spark.createDataFrame([(9, 99)], "id long, val long"), t2)
    assert read_delta(spark, t2).where("val = 99").count() == 1

    # OPTIMIZE and ZORDER on a shallow clone stay copy-on-write
    src = str(tmp_path / "cow_src")
    for lo in (0, 5, 10):
        write_delta(
            spark.range(lo, lo + 5).selectExpr("id", "id AS v"), src,
            stats_cols=("id",),
        )
    src_files = set(glob.glob(os.path.join(src, "part-*.parquet")))
    dst1 = str(tmp_path / "cow_opt")
    clone_delta(src, dst1)
    assert optimize_delta(spark, dst1, target_bytes=1 << 30)["version"] == 1
    assert set(glob.glob(os.path.join(src, "part-*.parquet"))) == src_files
    assert glob.glob(os.path.join(dst1, "part-*.parquet"))  # landed HERE
    assert read_delta(spark, dst1).count() == 15
    dst2 = str(tmp_path / "cow_z")
    clone_delta(src, dst2)
    zorder_delta(spark, dst2, ("id",), n_files=2, tiebreak="id")
    assert set(glob.glob(os.path.join(src, "part-*.parquet"))) == src_files
    assert len(glob.glob(os.path.join(dst2, "part-*.parquet"))) == 2
    assert read_delta(spark, dst2).count() == 15

    # restore re-validates CURRENT constraints against restored rows
    t3 = str(tmp_path / "rst_ck")
    write_delta(spark.createDataFrame([(1, -5)], "id long, v long"), t3)  # v0
    write_delta(
        spark.createDataFrame([(2, 7)], "id long, v long"), t3,
        mode="overwrite",
    )                                                                     # v1
    add_constraint(spark, t3, "v_nonneg", "v >= 0")                       # v2
    with pytest.raises(ValueError, match="SparkSession"):
        restore_delta(t3, 0)  # constrained restore needs a session
    with pytest.raises(ValueError, match="v_nonneg"):
        restore_delta(t3, 0, spark=spark)  # v0 has v=-5: refused
    assert read_delta(spark, t3).count() == 1  # nothing committed


def test_delta_generated_columns(spark, tmp_path):
    """Generated columns: declaring validates existing rows, writes
    omitting the column get it computed, writes providing divergent
    values are refused with per-column counts, merge sources are
    verified, the protocol bumps to writer 4, and the declaration
    survives checkpoint + log cleanup."""
    import pytest

    from etl_github_spark.io.delta_log import (
        _table_protocol,
        checkpoint_delta,
        cleanup_log,
        merge_delta_dv,
        read_delta,
        set_generated_column,
        write_delta,
    )

    table = str(tmp_path / "gen")
    write_delta(
        spark.createDataFrame([(1, 10, 20), (2, 30, 60)], "id long, v long, d long"),
        table,
    )
    with pytest.raises(ValueError, match="diverge"):
        set_generated_column(spark, table, "d", "v * 3")  # existing rows fail
    set_generated_column(spark, table, "d", "v * 2")
    assert _table_protocol(table)["minWriterVersion"] >= 4
    with pytest.raises(ValueError, match="already generated"):
        set_generated_column(spark, table, "d", "v * 2")

    # omitted → computed
    write_delta(spark.createDataFrame([(3, 50)], "id long, v long"), table)
    got = {r["id"]: r["d"] for r in read_delta(spark, table).collect()}
    assert got == {1: 20, 2: 60, 3: 100}
    # provided-but-divergent → refused, nothing committed
    with pytest.raises(ValueError, match="generated"):
        write_delta(
            spark.createDataFrame([(4, 5, 11)], "id long, v long, d long"), table
        )
    assert read_delta(spark, table).count() == 3
    # provided-and-correct → fine
    write_delta(
        spark.createDataFrame([(4, 5, 10)], "id long, v long, d long"), table
    )
    # merge sources are verified too
    with pytest.raises(ValueError, match="generated"):
        merge_delta_dv(
            spark,
            table,
            spark.createDataFrame([(1, 7, 15)], "id long, v long, d long"),
            on=("id",),
        )
    # declaration survives checkpoint + cleanup
    checkpoint_delta(table)
    cleanup_log(table)
    write_delta(spark.createDataFrame([(9, 100)], "id long, v long"), table)
    assert read_delta(spark, table).where("id = 9").collect()[0]["d"] == 200


def test_delta_generated_columns_third_pass_fixes(spark, tmp_path):
    """Pins the third r7 review batch: omitted generated columns work in
    ANY schema position (not just trailing), self-/chained-generation
    expressions are refused, restore re-validates generation
    expressions, clones carry the source protocol, and rename/drop of
    expression-referenced columns are refused."""
    import pytest

    from etl_github_spark.io.delta_log import (
        _table_protocol,
        clone_delta,
        delete_delta_dv,
        drop_column,
        enable_column_mapping,
        read_delta,
        restore_delta,
        set_generated_column,
        write_delta,
    )

    # omitted MIDDLE column computed + reordered to the recorded schema
    t = str(tmp_path / "gen_mid")
    write_delta(
        spark.createDataFrame([(1, 20, 10)], "id long, d long, v long"), t
    )
    set_generated_column(spark, t, "d", "v * 2")
    write_delta(spark.createDataFrame([(2, 30)], "id long, v long"), t)
    got = {r["id"]: (r["d"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {1: (20, 10), 2: (60, 30)}

    # self-reference and generated-chaining refused
    with pytest.raises(ValueError, match="references"):
        set_generated_column(spark, t, "id", "id")
    with pytest.raises(ValueError, match="references"):
        set_generated_column(spark, t, "id", "d + 1")  # d is generated

    # restore re-validates generation expressions
    t2 = str(tmp_path / "gen_rst")
    write_delta(
        spark.createDataFrame([(1, 999, 10)], "id long, d long, v long"), t2
    )                                                   # v0: d diverges
    delete_delta_dv(spark, t2, "id = 1")                # v1: row gone
    write_delta(
        spark.createDataFrame([(2, 14, 7)], "id long, d long, v long"), t2
    )                                                   # v2: clean row
    set_generated_column(spark, t2, "d", "v * 2")       # v3: validates live
    with pytest.raises(ValueError, match="generated"):
        restore_delta(t2, 0, spark=spark)               # would resurrect 999

    # the clone carries the source's (bumped) protocol
    dst = str(tmp_path / "gen_clone")
    clone_delta(t2, dst)
    assert _table_protocol(dst)["minWriterVersion"] >= 4

    # enabling column mapping on a generated table is refused (a later
    # rename could unbind the expression)
    with pytest.raises(ValueError, match="generated"):
        enable_column_mapping(t2)


def test_delta_snapshot_diff_lifecycle(spark, tmp_path):
    """snapshot_diff: carried files (same path + DV ref) are NEVER
    opened (pinned by corrupting one), rows merely moved by OPTIMIZE
    or rewritten by an overwrite cancel in the multiset EXCEPT, DV
    swaps on a carried file surface as deletes, and a diff across a
    schema-evolution commit refuses."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_github_spark.io.delta_log import (
        _replay,
        delete_delta_dv,
        optimize_delta,
        read_delta,
        snapshot_diff,
        write_delta,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id").cast("long").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta(df.where("k < 4").coalesce(1), t, mode="append")     # v0
    write_delta(df.where("k >= 4").coalesce(1), t, mode="append")    # v1

    # pure append diff: only the v1 slice, and the carried v0 file is
    # never opened — corrupt it and the diff must still answer.
    carried = sorted(_replay(t, 0))
    assert len(carried) == 1
    blob = os.path.join(t, carried[0])
    orig = open(blob, "rb").read()
    with open(blob, "wb") as fh:
        fh.write(b"corrupt")
    d01 = snapshot_diff(spark, t, 0, 1)
    got = {(r["k"], r["_change_type"]) for r in d01.collect()}
    assert got == {(k, "insert") for k in range(4, 10)}
    with open(blob, "wb") as fh:
        fh.write(orig)

    # OPTIMIZE moves every row into one bin; the diff must cancel all.
    out = optimize_delta(spark, t, target_bytes=1 << 30)
    assert out["version"] == 2
    assert snapshot_diff(spark, t, 1, 2).count() == 0

    # overwrite with an overlapping slice: survivors cancel row-level
    # across entirely different files.
    write_delta(df.where("k >= 2").coalesce(1), t, mode="overwrite")  # v3
    d13 = {(r["k"], r["_change_type"]) for r in snapshot_diff(spark, t, 1, 3).collect()}
    assert d13 == {(0, "delete"), (1, "delete")}

    # DV swap on a carried file: same data file, new vector -> deletes.
    delete_delta_dv(spark, t, "k = 5")                                # v4
    d34 = {(r["k"], r["_change_type"]) for r in snapshot_diff(spark, t, 3, 4).collect()}
    assert d34 == {(5, "delete")}
    assert read_delta(spark, t).count() == 7

    # schema evolution in the range refuses loudly.
    write_delta(
        df.where("k = 0").withColumn("extra", F.lit(1)).coalesce(1),
        t, mode="append", merge_schema=True,
    )                                                                 # v5
    with pytest.raises(ValueError, match="schema change"):
        snapshot_diff(spark, t, 4, 5)
    # but diffing at or above the evolution commit works.
    assert {(r["k"], r["_change_type"]) for r in snapshot_diff(spark, t, 5, 5).collect()} == set()


def test_delta_append_only_property(spark, tmp_path):
    """delta.appendOnly: MERGE refuses (it DV-deletes matched rows),
    the property survives a checkpoint round-trip, clones inherit it,
    and unsetting restores the full destructive surface."""
    import pytest
    from pyspark.sql import functions as F

    from etl_github_spark.io.delta_log import (
        checkpoint_delta,
        clone_delta,
        delete_delta_dv,
        merge_delta_dv,
        read_delta,
        set_append_only,
        write_delta,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 8).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    write_delta(df.coalesce(1), t, mode="append")
    set_append_only(t)
    with pytest.raises(ValueError, match="delta.appendOnly"):
        merge_delta_dv(spark, t, df.withColumn("v", F.lit(0)), on="k")
    # property survives checkpoint replay
    checkpoint_delta(t)
    write_delta(df.coalesce(1), t, mode="append")  # appends still fine
    with pytest.raises(ValueError, match="delta.appendOnly"):
        delete_delta_dv(spark, t, "k = 1")
    # clones inherit the guard via copied metaData
    c = str(tmp_path / "c")
    clone_delta(t, c)
    with pytest.raises(ValueError, match="delta.appendOnly"):
        write_delta(df.coalesce(1), c, mode="overwrite")
    # unset restores the surface
    set_append_only(t, False)
    out = delete_delta_dv(spark, t, "k = 1")
    assert out["deleted_rows"] == 2  # both appends held k=1
    assert read_delta(spark, t).where("k = 1").count() == 0
