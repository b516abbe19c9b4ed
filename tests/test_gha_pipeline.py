"""Golden end-to-end test of the GH Archive ingest path (SURVEY.md §5.3):
NDJSON(.gz) → parse → six typed tables → date-partitioned sink →
reference queries; plus corrupt tolerance, schemas, incremental
high-water mark, and explode edge cases.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_github_spark.gha import EXTRACTORS, parse_raw_lines
from etl_github_spark.gha.extract import CORRUPT_COL, _parsed
from etl_github_spark.gha.incremental import parse_start_stop
from etl_github_spark.gha.pipeline import extract_tables, ingest_files, list_files
from etl_github_spark.gha.queries import keyword_comments, keyword_commits
from etl_github_spark.gha.schemas import TABLE_SCHEMAS
from etl_github_spark.io.sink import read_table

from .gha_fixture import EVENTS, N_CORRUPT, write_fixture


def _raw(spark, tmp_path, gz=True):
    paths = write_fixture(tmp_path / ("gz" if gz else "plain"), gz=gz)
    return spark.read.text(paths)


def test_parse_drops_corrupt_and_unknown(spark, tmp_path):
    raw = _raw(spark, tmp_path)
    events = parse_raw_lines(raw)
    # all well-formed envelope events survive (incl. unknown GollumEvent)
    assert events.count() == len(EVENTS)
    # the non-JSON lines land in the corrupt-record sidecar
    corrupt = _parsed(raw, "value").where(F.col(f"j.{CORRUPT_COL}").isNotNull())
    assert corrupt.count() == N_CORRUPT


def test_extract_tables_golden(spark, tmp_path):
    tables = dict(extract_tables(parse_raw_lines(_raw(spark, tmp_path))))

    commits = {tuple(r) for r in tables["commit"].select("sha", "username", "repo").collect()}
    # 2+1+1+1 commits; zero-commit push contributes no rows
    assert commits == {
        ("a1", "alice", "org/tools"),
        ("a2", "alice", "org/tools"),
        ("b1", "dependabot", "org/tools"),
        ("c1", "dave", "dask/dask"),
        ("d1", "erin", "org/tools"),
    }

    # schemas match the declared normalized schemas exactly
    for name, df in tables.items():
        assert df.schema == TABLE_SCHEMAS[name], name

    # timestamp parsing: tz offset normalized to UTC session time
    row = tables["pr"].select("pr_created_at", "created_at", "date").first()
    assert row["pr_created_at"] == dt.datetime(2024, 2, 29, 22, 39)
    assert row["date"] == dt.date(2024, 2, 29)

    # date column crosses the midnight boundary correctly
    dates = {r["date"] for r in tables["commit"].select("date").collect()}
    assert dates == {dt.date(2024, 2, 29), dt.date(2024, 3, 1)}

    assert tables["watch"].count() == 7
    assert tables["fork"].count() == 1
    assert tables["create"].first()["description"] is None


def test_ingest_sink_partitioned_and_incremental(spark, tmp_path):
    paths = write_fixture(tmp_path / "in", gz=True)
    out = ingest_files(spark, paths, str(tmp_path / "lake"))
    commit = read_table(spark, out["commit"])
    assert commit.count() == 5
    # hive partition layout by date
    parts = {p.name for p in (tmp_path / "lake" / "commit").iterdir() if p.is_dir()}
    assert parts == {"date=2024-02-29", "date=2024-03-01"}

    # high-water mark: comment table max created_at is 2024-03-01T00:25
    start, stop = parse_start_stop(
        spark,
        out["comment"],
        now=dt.datetime(2024, 3, 2, 5, 30, tzinfo=dt.timezone.utc),
    )
    assert start == dt.datetime(2024, 3, 1, 1, 0, tzinfo=dt.timezone.utc)
    assert stop == dt.datetime(2024, 3, 2, 4, 0, tzinfo=dt.timezone.utc)

    # append is incremental: re-ingest doubles rows (caller is responsible
    # for not re-listing processed hours; write itself must not dedup)
    ingest_files(spark, paths, str(tmp_path / "lake"))
    assert read_table(spark, out["commit"]).count() == 10


def test_reference_queries_golden(spark, tmp_path):
    tables = dict(extract_tables(parse_raw_lines(_raw(spark, tmp_path))))
    out = keyword_commits(tables["commit"], tables["watch"]).collect()
    # only alice's "use Dask ..." commit survives: bot excluded, dask/
    # repo excluded, org/quiet unpopular, "daskboard" lacks " dask",
    # "fix typo" lacks keyword. " dask" matches lower("use Dask ...").
    assert [(r["username"], r["repo"], r["sha"] if "sha" in r else None) for r in out] == [
        ("alice", "org/tools", None)
    ]
    assert out[0]["count"] == 6

    comments = keyword_comments(tables["comment"], tables["watch"]).collect()
    assert [(r["username"], r["repo"]) for r in comments] == [("gina", "org/tools")]


def test_plain_text_and_gzip_equivalent(spark, tmp_path):
    t_gz = dict(extract_tables(parse_raw_lines(_raw(spark, tmp_path, gz=True))))
    t_txt = dict(extract_tables(parse_raw_lines(_raw(spark, tmp_path, gz=False))))
    for name in EXTRACTORS:
        assert t_gz[name].count() == t_txt[name].count(), name


def test_list_files_manifest():
    files = list_files(
        dt.datetime(2024, 2, 29, 22), dt.datetime(2024, 3, 1, 2)
    )
    # inclusive of the stop hour, matching the reference's pd.date_range
    assert files[0].endswith("2024-02-29-22.json.gz")
    assert files[-1].endswith("2024-03-01-2.json.gz")  # no zero-padding
    assert len(files) == 5


def test_fetch_to_landing_and_ingest(spark, tmp_path):
    """file://-stubbed https manifest → parallel fetch → ingest end-to-end
    (the production path for the real GH Archive source)."""
    from etl_github_spark.gha.pipeline import fetch_to_landing, ingest_urls

    src_paths = write_fixture(tmp_path / "src", gz=True)
    urls = [f"file://{p}" for p in src_paths]
    landing = tmp_path / "landing"

    landed = fetch_to_landing(spark, urls, str(landing))
    assert [p.rsplit("/", 1)[-1] for p in landed] == [
        p.rsplit("/", 1)[-1] for p in src_paths
    ]
    assert all((landing / p.rsplit("/", 1)[-1]).exists() for p in src_paths)
    assert not list(landing.glob("*.part"))  # atomic publish, no leftovers

    # idempotent: re-fetch skips existing files (mtimes unchanged)
    mtimes = {p: (landing / p.rsplit("/", 1)[-1]).stat().st_mtime_ns for p in src_paths}
    fetch_to_landing(spark, urls, str(landing))
    assert mtimes == {
        p: (landing / p.rsplit("/", 1)[-1]).stat().st_mtime_ns for p in src_paths
    }

    out = ingest_urls(spark, urls, str(tmp_path / "landing2"), str(tmp_path / "lake"))
    from etl_github_spark.io.sink import read_table

    assert read_table(spark, out["watch"]).count() == 7


def test_fetch_to_landing_failure_raises(spark, tmp_path):
    from etl_github_spark.gha.pipeline import fetch_to_landing

    import pytest

    with pytest.raises(Exception, match="fetch failed|nosuchfile"):
        fetch_to_landing(
            spark,
            [f"file://{tmp_path}/nosuchfile.json.gz"],
            str(tmp_path / "landing"),
            max_retries=1,
        )


def test_commit_messages_nonnull_filter_semantics(spark, tmp_path):
    # SQL three-valued logic: contains(null) is null → row dropped, which
    # differs from pandas NaN propagation (SURVEY.md §7 risk register).
    tables = dict(extract_tables(parse_raw_lines(_raw(spark, tmp_path))))
    df = tables["commit"].withColumn(
        "message", F.when(F.col("sha") == "a2", None).otherwise(F.col("message"))
    )
    kept = df.where(F.lower(F.col("message")).contains(" dask")).collect()
    assert {r["sha"] for r in kept} == {"a1", "b1", "c1"}
    dropped = df.where(~F.lower(F.col("message")).contains(" dask")).collect()
    assert "a2" not in {r["sha"] for r in dropped}


def test_ingest_urls_end_to_end_resume_and_retry(spark, tmp_path):
    """ingest_urls driven through file:// URLs (VERDICT r02 #7):

    * a stale ``.part`` from a killed fetch is overwritten and published
      atomically (no ``.part`` survives a successful run);
    * an already-landed file is skipped (idempotent resume — mtime
      unchanged), and the landing dir ends byte-identical to the source;
    * a URL that keeps failing raises after max_retries.
    """
    import os
    import time

    from etl_github_spark.gha.pipeline import fetch_to_landing, ingest_urls
    from etl_github_spark.io.sink import read_table

    from .gha_fixture import write_fixture

    src = tmp_path / "remote"
    paths = write_fixture(src, gz=True)
    urls = [f"file://{p}" for p in paths]
    landing = tmp_path / "landing"
    landing.mkdir()

    # simulate a killed mid-fetch: truncated .part for file 0
    name0 = os.path.basename(paths[0])
    (landing / (name0 + ".part")).write_bytes(b"\x1f\x8b-truncated")
    # simulate a previously-landed complete file 1 (resume must skip it)
    name1 = os.path.basename(paths[1])
    import shutil

    shutil.copyfile(paths[1], landing / name1)
    old_mtime = os.path.getmtime(landing / name1)
    time.sleep(0.05)

    out = ingest_urls(spark, urls, str(landing), str(tmp_path / "lake"))

    # landing dir byte-identical to source, no .part leftovers
    assert sorted(os.listdir(landing)) == sorted(os.path.basename(p) for p in paths)
    for p in paths:
        landed = landing / os.path.basename(p)
        assert landed.read_bytes() == open(p, "rb").read()
    # pre-landed file skipped, not re-fetched
    assert os.path.getmtime(landing / name1) == old_mtime

    # the lake holds the same tables ingest_files produces
    assert read_table(spark, out["commit"]).count() > 0
    assert read_table(spark, out["watch"]).count() > 0

    # second run over the same landing dir is a pure no-op fetch
    landed_again = fetch_to_landing(spark, urls, str(landing))
    assert sorted(os.path.basename(p) for p in landed_again) == sorted(
        os.path.basename(p) for p in paths
    )

    # a URL that never succeeds raises after retries
    import pytest

    bad = f"file://{tmp_path}/remote/does-not-exist.json.gz"
    with pytest.raises(Exception, match="fetch failed"):
        fetch_to_landing(spark, [bad], str(landing), max_retries=1)


def test_manifest_query_matches_list_files(spark):
    """The distributed manifest query (gha_manifest_hours) and the
    pipeline's driver-side list_files must walk the same URLs — the
    cluster plans from the former, the fetcher walks the latter."""
    import datetime as dt

    from etl_github_spark.gha.pipeline import list_files
    from etl_github_spark.queries.gha_parity import gha_manifest_hours

    want = list_files(dt.datetime(2024, 2, 29, 22), dt.datetime(2024, 3, 1, 3))
    got = [
        r["url"]
        for r in gha_manifest_hours(spark, "unused").orderBy("hour_ts").collect()
    ]
    assert got == want and len(got) == 6  # inclusive stop, leap-day boundary


def test_split_landing_shards_are_row_identical_and_splittable(spark, tmp_path):
    """The decompress-split scale path: shards must reproduce the gz
    content row-identically, scan with MORE tasks than the
    one-task-per-gz property read_raw documents, and re-runs must be
    idempotent (the _SUCCESS marker short-circuits re-decoding)."""
    import os

    from etl_github_spark.gha.pipeline import read_raw, split_landing

    paths = write_fixture(tmp_path / "gz", gz=True)
    shards = split_landing(spark, paths, str(tmp_path / "split"), shard_bytes=256)

    # multiple shards per input file (tiny shard_bytes forces the split)
    assert len(shards) > len(paths)
    assert all(p.endswith(".json") and not p.endswith(".part") for p in shards)

    gz_rows = sorted(r["value"] for r in read_raw(spark, paths).collect())
    shard_rows = sorted(r["value"] for r in read_raw(spark, shards).collect())
    assert shard_rows == gz_rows

    # the straggler property: each .gz is exactly one input partition;
    # the shard scan parallelizes past that bound.
    assert read_raw(spark, paths).rdd.getNumPartitions() == len(paths)
    assert read_raw(spark, shards).rdd.getNumPartitions() > len(paths)

    # idempotent re-run: same shard list, nothing rewritten
    mtimes = {p: os.stat(p).st_mtime_ns for p in shards}
    again = split_landing(spark, paths, str(tmp_path / "split"), shard_bytes=256)
    assert sorted(again) == sorted(shards)
    assert {p: os.stat(p).st_mtime_ns for p in shards} == mtimes


def test_ingest_urls_with_split_matches_unsplit(spark, tmp_path):
    """ingest_urls(split_shard_bytes=...) must land the same six tables
    as the plain path — the split is an execution strategy only."""
    from etl_github_spark.gha.pipeline import ingest_urls

    src = write_fixture(tmp_path / "src", gz=True)
    urls = [f"file://{p}" for p in src]

    plain = ingest_urls(spark, urls, str(tmp_path / "l1"), str(tmp_path / "lake1"))
    split = ingest_urls(
        spark,
        urls,
        str(tmp_path / "l2"),
        str(tmp_path / "lake2"),
        split_shard_bytes=256,
    )
    for name in plain:
        a = sorted(map(tuple, read_table(spark, plain[name]).collect()))
        b = sorted(map(tuple, read_table(spark, split[name]).collect()))
        assert a == b, name


def test_split_landing_edge_shapes(spark, tmp_path):
    """Edge inputs the shard writer must survive: a gz with NO trailing
    newline (the last line still lands in a shard intact) and an empty
    gz (no shards, no crash, _SUCCESS still published so re-runs skip)."""
    import gzip

    from etl_github_spark.gha.pipeline import split_landing

    src = tmp_path / "src"
    src.mkdir()
    p1 = src / "2024-02-29-1.json.gz"
    p1.write_bytes(gzip.compress(b'{"a":1}\n{"b":2}'))  # no trailing \n
    p2 = src / "2024-02-29-2.json.gz"
    p2.write_bytes(gzip.compress(b""))  # empty hour

    shards = split_landing(spark, [str(p1), str(p2)], str(tmp_path / "out"), shard_bytes=4)
    rows = sorted(r["value"] for r in spark.read.text(shards).collect())
    assert rows == ['{"a":1}', '{"b":2}']
    # empty input published an empty dir with a marker; re-run is a no-op
    again = split_landing(spark, [str(p1), str(p2)], str(tmp_path / "out"), shard_bytes=4)
    assert sorted(again) == sorted(shards)


def test_split_landing_line_longer_than_shard_bytes(spark, tmp_path):
    """The chunked decoder accumulates until a newline appears, so a
    single line LARGER than shard_bytes must land intact in one
    (oversized) shard — never torn mid-line — with its neighbors in
    their own shards."""
    import gzip
    import json

    from etl_github_spark.gha.pipeline import split_landing

    src = tmp_path / "src"
    src.mkdir()
    big = json.dumps({"big": "x" * 5000})
    body = ('{"a":1}\n' + big + '\n{"b":2}\n').encode()
    p = src / "2024-02-29-3.json.gz"
    p.write_bytes(gzip.compress(body))

    shards = split_landing(spark, [str(p)], str(tmp_path / "out"), shard_bytes=64)
    rows = sorted(r["value"] for r in spark.read.text(shards).collect())
    assert rows == sorted(['{"a":1}', big, '{"b":2}'])
    # every shard is whole lines: its bytes must re-split cleanly
    for s in shards:
        data = open(s, "rb").read()
        assert data.endswith(b"\n")
        for line in data[:-1].split(b"\n"):
            json.loads(line)


def _group_jobs(sc, group, fn, *args):
    """Run ``fn(*args)`` under a job group; the number of Spark jobs the
    group saw. The status store fills from the listener bus, so the
    count is read until two reads 0.1 s apart agree."""
    import time

    sc.setJobGroup(group, group)
    try:
        fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    seen = -1
    for _ in range(50):
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n == seen:
            break
        seen = n
        time.sleep(0.1)
    return seen


def test_hour_refresh_jobs_follow_the_caller_job_group(spark, tmp_path):
    """One hourly refresh (ingest one fixture hour, the high-water mark,
    the analytics) under the caller's job group: the writes submitted
    from ingest_raw's and run_analytics' driver threads are counted in
    the group, and no call runs a schema-inference or cache-filling job
    (ingest: six writes; high-water mark: none, it reads the newest
    partition on the driver; analytics: per keyword query the watch
    aggregation's and the hit scan's shuffle, then the join-and-write)."""
    from etl_github_spark.gha.incremental import high_water_mark
    from etl_github_spark.gha.queries import run_analytics

    sc = spark.sparkContext
    lake, out = str(tmp_path / "lake"), str(tmp_path / "out")
    hour = write_fixture(tmp_path / "in", n_files=1)
    jobs = {
        "ingest_files": _group_jobs(sc, "hour-ingest", ingest_files, spark, hour, lake),
        "high_water_mark": _group_jobs(
            sc, "hour-hw", high_water_mark, spark, f"{lake}/comment"
        ),
        "run_analytics": _group_jobs(sc, "hour-analytics", run_analytics, spark, lake, out),
    }
    assert jobs == {"ingest_files": 6, "high_water_mark": 0, "run_analytics": 6}, jobs


def test_ingest_parses_each_raw_line_once(spark, tmp_path):
    """Every raw line goes through the parse exactly once across the six
    table writes: a lost persist shows as six passes, a filter pushed
    under the parse as about two."""
    from etl_github_spark.gha.pipeline import ingest_raw

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(v):
        acc.add(1)
        return v

    raw = spark.read.text(write_fixture(tmp_path / "in", n_files=1))
    n_lines = raw.count()
    ingest_raw(spark, raw.select(counted("value").alias("value")), str(tmp_path / "lake"))
    assert acc.value == n_lines


def test_bad_hour_appends_nothing(spark, tmp_path):
    """An ingest whose inputs include a truncated gzip raises and appends
    to no table: each of the six writes needs every parsed partition, so
    all six fail. On a fresh lake no data file is left behind."""
    import pytest

    good, other = write_fixture(tmp_path / "in")
    bad = tmp_path / "in" / "2024-03-01-0.json.gz"
    data = open(other, "rb").read()
    bad.write_bytes(data[: len(data) // 2])
    lake = tmp_path / "lake"

    with pytest.raises(Exception):
        ingest_files(spark, [good, str(bad)], str(lake))
    assert not [p for p in lake.rglob("*") if p.is_file() and p.name.startswith("part-")]

    def counts():
        return {
            t: read_table(spark, f"{lake}/{t}", schema=s).count()
            for t, s in TABLE_SCHEMAS.items()
        }

    ingest_files(spark, [good], str(lake))
    before = counts()
    with pytest.raises(Exception):
        ingest_files(spark, [good, str(bad)], str(lake))
    assert counts() == before


def test_high_water_mark_reads_the_newest_date_partition(spark, tmp_path):
    """The resume point equals Spark's max(created_at) on every table of
    a lake that crosses midnight; entries that are not a ``date=`` day
    are skipped; a missing table is None, an unreadable file raises."""
    import pyarrow as pa
    import pytest

    from etl_github_spark.gha.incremental import high_water_mark

    lake = tmp_path / "lake"
    ingest_files(spark, write_fixture(tmp_path / "in"), str(lake))
    dates = {p.name for p in (lake / "commit").iterdir() if p.is_dir()}
    assert dates == {"date=2024-02-29", "date=2024-03-01"}
    for t, schema in TABLE_SCHEMAS.items():
        table = read_table(spark, str(lake / t), schema=schema)
        want = table.agg(F.max("created_at")).first()[0].replace(tzinfo=dt.timezone.utc)
        assert high_water_mark(spark, str(lake / t)) == want, t

    comment = lake / "comment"
    hw = high_water_mark(spark, str(comment))
    junk = ("_temporary", ".stage-1", "date=__HIVE_DEFAULT_PARTITION__", "date=2099-01-01.x", "x")
    for entry in junk:
        (comment / entry).mkdir()
        (comment / entry / "part-00000.parquet").write_bytes(b"not parquet")
    assert high_water_mark(spark, str(comment)) == hw

    assert high_water_mark(spark, str(tmp_path / "no-such-table")) is None

    newest = max(p for p in comment.glob("date=2024-*"))
    next(newest.glob("part-*.parquet")).write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        high_water_mark(spark, str(comment))


def test_keyword_queries_shuffle_hash_join_and_sort_each_file(spark, tmp_path):
    """Both keyword frames join the popular repos without a broadcast and
    sort without a range-partitioning exchange; every file run_analytics
    writes is sorted by ``count`` descending."""
    import contextlib
    import io
    import json

    import pyarrow.parquet as pq

    from etl_github_spark.gha.queries import run_analytics

    from .gha_fixture import _ev

    ts = "2024-03-01T05:00:00+00:00"
    events = []
    for i in range(12):
        repo = f"org/r{i:02d}"
        events += [
            _ev("WatchEvent", ts, f"w{j}", repo, {"action": "started"}) for j in range(5 + i)
        ]
        events += [
            _ev("PushEvent", ts, f"u{j}", repo, {"commits": [{"sha": "s", "message": "try dask"}]})
            for j in range(3)
        ]
        events += [
            _ev("IssueCommentEvent", ts, f"u{j}", repo, {"comment": {"body": "a dask issue"}})
            for j in range(2)
        ]
    src = tmp_path / "in" / "2024-03-01-5.json"
    src.parent.mkdir()
    src.write_text("".join(json.dumps(e) + "\n" for e in events))
    lake, out = str(tmp_path / "lake"), str(tmp_path / "out")
    ingest_files(spark, [str(src)], lake)

    watch = read_table(spark, f"{lake}/watch", schema=TABLE_SCHEMAS["watch"])
    frames = {
        "commits": keyword_commits(
            read_table(spark, f"{lake}/commit", schema=TABLE_SCHEMAS["commit"]), watch
        ),
        "comments": keyword_comments(
            read_table(spark, f"{lake}/comment", schema=TABLE_SCHEMAS["comment"]), watch
        ),
    }
    for name, df in frames.items():
        df.collect()  # the explain below then shows the executed (final) plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan, name
        assert "ShuffledHashJoin" in plan, name
        assert "RangePartitioning" not in plan and "BroadcastExchange" not in plan, name

    run_analytics(spark, lake, out)
    # org/r00 has 5 watches, not more than 5: 11 popular repos
    for name, n_rows in (("commits", 3 * 11), ("comments", 2 * 11)):
        files = sorted((tmp_path / "out" / "dask" / name).glob("part-*.parquet"))
        counts = [pq.read_table(f)["count"].to_pylist() for f in files]
        assert sum(map(len, counts)) == n_rows, name
        assert all(c == sorted(c, reverse=True) for c in counts), name
