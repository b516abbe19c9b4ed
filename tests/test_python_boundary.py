"""The fixed cost of the Python boundary: workers forked from the
engine's daemon (`session.BUILDER_CONF`'s `spark.python.daemon.module`)
keep an unchanged archive's directory across tasks, and driver-built
frames (`session.local_frame`) are Arrow `LocalRelation`s that collect
without a Spark job yet equal the parallelized list they replace."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import subprocess
import sys

from pyspark.sql import Row

from etl_github_spark import session


def _in_worker(spark, fn):
    """``fn()``'s value, computed inside one Python worker."""
    return spark.sparkContext.parallelize([0], 1).mapPartitions(lambda _: [fn()]).collect()[0]


def _rereads_of_unchanged_archives():
    import importlib
    import zipimport

    n = 0
    read = zipimport._read_directory

    def counted(archive):
        nonlocal n
        n += 1
        return read(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return n


def test_workers_keep_an_unchanged_archive_directory(spark):
    """The per-task `importlib.invalidate_caches()` PySpark's worker
    makes re-reads no archive directory when no archive changed (16
    re-reads of pyspark.zip a task without the daemon, CPython < 3.13)."""
    assert _in_worker(spark, _rereads_of_unchanged_archives) == 0


def _imports_after_rewrite():
    import importlib
    import os
    import shutil
    import tempfile
    import uuid
    import zipfile

    tag = uuid.uuid4().hex
    first, second = f"boundary_a_{tag}", f"boundary_b_{tag}"
    root = tempfile.mkdtemp()
    archive = os.path.join(root, "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "X = 1\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module(first)
        importlib.invalidate_caches()  # this process has now read the archive
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{first}.py", "X = 1\n")
            z.writestr(f"{second}.py", "X = 2\n")
        importlib.invalidate_caches()
        return importlib.import_module(second).X
    finally:
        sys.path.remove(archive)
        sys.modules.pop(first, None)
        sys.modules.pop(second, None)
        sys.path_importer_cache.pop(archive, None)
        shutil.rmtree(root, ignore_errors=True)


def test_workers_reread_a_changed_archive(spark):
    """An archive rewritten after the worker read it is read again: a
    module added to it imports after `invalidate_caches()`."""
    assert _in_worker(spark, _imports_after_rewrite) == 2


def test_daemon_module_imports_from_any_directory():
    """The daemon module imports from the root directory with only the
    conf's worker `PYTHONPATH` (no JVM), and its patch replaces
    `zipimporter.invalidate_caches` before CPython 3.13 only."""
    module = session.BUILDER_CONF["spark.python.daemon.module"]
    code = (
        "import importlib, zipimport\n"
        f"importlib.import_module({module!r}).keep_unchanged_archives()\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    env = {**os.environ, "PYTHONPATH": session.BUILDER_CONF["spark.executorEnv.PYTHONPATH"]}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd="/", env=env, capture_output=True, text=True, check=True
    ).stdout.strip()
    assert out == (module if sys.version_info < (3, 13) else "zipimport")


#: (rows, schema) of every shape the engine builds frames of on the driver
SHAPES = [
    (
        [(dt.datetime(2024, 1, 1, 3, 4, 5, 123456), dt.date(2024, 2, 29), "x"), (None, None, None)],
        "ts timestamp, d date, s string",
    ),
    (
        [(decimal.Decimal("12.34"), True, None, 5), (decimal.Decimal("-0.01"), False, 3, None)],
        "m decimal(12,2), b boolean, n int, l long",
    ),
    ([([1.0, 2.5], (1, "a")), (None, None), ([], (None, None))], "v array<double>, st struct<a:int,b:string>"),
    ([(Row(a=1, ts=dt.datetime(2020, 5, 5, 23, 59)),), (None,)], "st struct<a:int, ts:timestamp>"),
    ([([dt.datetime(2021, 3, 14, 2, 30), None],)], "a array<timestamp>"),
    ([], "a int, b string, ts timestamp"),
]


def _adversarial(spark):
    """The driver-configured session of
    `test_driver_boundary_tunes_an_adversarial_session`, as far as
    building frames goes: ANSI off, a non-UTC zone."""
    adv = spark.newSession()
    adv.conf.set("spark.sql.ansi.enabled", "false")
    adv.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    return adv


def test_local_frame_equals_the_parallelized_list(spark):
    """Same schema, rows and instants as `createDataFrame(list, schema)`
    on every shape, on the default session and an adversarial one."""
    for s in (spark, _adversarial(spark)):
        for rows, schema in SHAPES:
            old, new = s.createDataFrame(rows, schema), session.local_frame(s, rows, schema)
            assert new.schema == old.schema, schema
            assert new.collect() == old.collect(), schema
            as_text = "to_json(struct(*))"
            assert new.selectExpr(as_text).collect() == old.selectExpr(as_text).collect(), schema


def test_local_frame_collects_without_a_job(spark):
    """A driver-built frame is a `LocalRelation`: collecting it runs no
    Spark job (the parallelized list runs one)."""
    from .test_gha_pipeline import _group_jobs

    rows = [(1, "a", dt.datetime(2024, 1, 1)), (2, None, None)]
    frame = session.local_frame(spark, rows, "n long, s string, ts timestamp")
    assert _group_jobs(spark.sparkContext, "local-frame-collect", frame.collect) == 0
