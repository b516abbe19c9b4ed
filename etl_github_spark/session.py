"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
conf set is what we'd ship on a 1000-executor cluster — AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast
threshold sized for dimension tables, UTC session time zone (reference
parses tz-aware ISO-8601 timestamps; SURVEY.md §7 risk register).

This module is also the one door to Spark internals: :func:`rebase`,
:func:`release` and :func:`drop_clone_listener` are the engine's only
uses of private Spark APIs (py4j handles and JVM reflection), so a
Spark upgrade that moves one breaks here and in its test, not silently
inside a loop query (``tests/test_new_invariants.py`` fails on a
private handle anywhere else in the package). Driver-built frames go
through :func:`local_frame` only, and run as ``python -m``, the module
is the PySpark daemon that sessions built from :data:`BUILDER_CONF`
fork their Python workers from (see :func:`keep_unchanged_archives`).
"""

from __future__ import annotations

import os
import sys
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: Runtime-settable confs applied to *any* session (including a session the
#: driver harness hands us) — safe to set after the JVM is up.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dim tables (region/nation/customer at test SF; repo-counts table in the
    # reference's flagship join, preprocess.py:216) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fixture events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert in the loader (io.tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Every oracle is written against Spark 4 ANSI semantics (try_cast /
    # F.get / bounded sequence() keep the plans throw-free); pin it so a
    # legacy-configured driver session can't flip null-vs-sentinel
    # behaviors (e.g. non-ANSI size(NULL)=-1) under the same hashes.
    "spark.sql.ansi.enabled": "true",
    # At 100 TB this is sized per-cluster; for local[32] keep one wave of
    # tasks per stage. Runtime-settable, so a vanilla driver session gets
    # the same value the tuned builder uses — batch plans are insensitive
    # (AQE coalesces), but streaming state-store partitioning is fixed at
    # query start and would otherwise default to 200 tiny state partitions.
    "spark.sql.shuffle.partitions": "32",
}

#: Builder-time confs (need to be set before the JVM starts).
BUILDER_CONF = {
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Python workers fork from this module's daemon (`__main__` below),
    # which stops every task from re-reading pyspark.zip's directory.
    # The checkout root on the workers' path makes the module importable
    # whatever the JVM's working directory is; Spark merges it with the
    # pyspark zips.
    "spark.python.daemon.module": "etl_github_spark.session",
    "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parents[1]),
}


def _apply(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent). Called
    at the session boundaries only, never from query code."""
    return _apply(spark, RUNTIME_CONF)


def private_session(spark: SparkSession, partitions: int) -> SparkSession:
    """A tuned child of ``spark`` with ``partitions`` shuffle partitions,
    for one operation whose right width differs from the session's: a
    bounded streaming replay (the state-store shard count, fixed at
    query start) or an iterative loop (`queries._util.loop_width`). At
    one partition AQE is off: it has nothing to adapt there, but would
    still run every exchange as its own job. The child shares the
    SparkContext but owns its conf and temp views, so the caller's conf
    is never written."""
    conf = {**RUNTIME_CONF, "spark.sql.shuffle.partitions": str(partitions)}
    if partitions == 1:
        conf["spark.sql.adaptive.enabled"] = "false"
    return _apply(spark.newSession(), conf)


_STREAM_SESSIONS: dict[tuple[str, int], SparkSession] = {}
_STREAM_LOCK = threading.Lock()


def stream_session(spark: SparkSession, partitions: int) -> SparkSession:
    """The `private_session` child that bounded streaming replays with
    ``partitions`` state partitions run on: one per SparkContext and
    width, created once and reused. A session that starts a stream adds
    a listener to the SparkContext's shared listener bus that nothing
    removes, so a fresh child per replay would grow the bus by one
    listener a call (the replay removes the one its stream's own
    session clone adds). A child inherits nothing from the session it is
    made from (it shares only the SparkContext), so every caller of the
    same width can share it; its conf is written only here, at
    creation, and concurrent replays on it keep apart by unique sink
    names."""
    key = (spark.sparkContext.applicationId, partitions)
    with _STREAM_LOCK:
        if key not in _STREAM_SESSIONS:
            _STREAM_SESSIONS[key] = private_session(spark, partitions)
        return _STREAM_SESSIONS[key]


def rebase(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``spark``: what is built on it plans
    and runs with that session's conf (a loop on its
    :func:`private_session`, a result back on the caller's). Wraps the
    analyzed plan with the JVM's ``classic.Dataset.ofRows``."""
    return DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().analyzed()
        ),
        spark,
    )


def release(*dfs: DataFrame) -> None:
    """Free the executor blocks behind materialized ``localCheckpoint``s.
    ``DataFrame.unpersist`` does not: the checkpoint lives on the RDD
    the frame's LogicalRDD wraps, not in the cache manager. Only call
    it once every eager checkpoint that reads a frame has run — the
    lineage is truncated, so nothing can recompute it."""
    for df in dfs:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def drop_clone_listener(spark: SparkSession, q) -> None:
    """A streaming query runs on a clone of its session; a stateful one
    makes the clone's query manager, which registers its listener bus
    on the SparkContext's shared listener bus, and nothing removes it:
    one more listener per query for the life of the context. Remove
    it once the query ``q`` has stopped. The bus is a private field of
    the manager, read by reflection; the clone's manager serves no
    other query."""
    manager = q._jsq.streamingQuery().sparkSessionForStream().streams()
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    spark.sparkContext._jsc.sc().listenerBus().removeListener(field.get(manager))


def get_spark(app_name: str = "etl-github-spark", master: str | None = None) -> SparkSession:
    """Create (or reuse) a tuned SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**BUILDER_CONF, **RUNTIME_CONF}.items():
        b = b.config(k, v)
    return tune(b.getOrCreate())


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame of the driver-built ``rows`` (``schema`` a ``StructType``
    or DDL string), equal to ``createDataFrame(rows, schema)`` of a list.
    Built as an Arrow table, it becomes a ``LocalRelation`` (below
    ``spark.sql.execution.arrow.localRelationThreshold``) that collects on
    the driver with no Spark job, where a parallelized list needs a
    4-task job. The rows go through ``schema.toInternal``, the conversion
    the list path makes, so timestamps and dates become the same epoch
    microseconds and days on any session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    rows = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def keep_unchanged_archives() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed since this process last read
    it, by its ``(st_mtime_ns, st_size, st_ino)``. PySpark's worker calls
    ``importlib.invalidate_caches()`` at the start of every task; on
    CPython before 3.13 that re-reads the whole directory of pyspark.zip
    (about 1,300 entries) once per zipimporter, one per imported
    subpackage: 16 reads, most of a short task's fixed cost. 3.13 made
    the call lazy, so there this patches nothing. The directories already
    imported from are read once here, so forked workers start with
    nothing to re-read."""
    import zipimport

    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        last_read[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # The PySpark daemon (`spark.python.daemon.module`): workers fork from
    # it and inherit the patch.
    keep_unchanged_archives()
    from pyspark.daemon import manager

    manager()
