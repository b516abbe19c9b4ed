"""Session start-up, timing bookkeeping and statistics shared by the
workloads."""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from .trace import Tracer

#: spans that submit Spark jobs; each gets the event-log quantities
SPAN_LAYERS = (
    "gha.pipeline",
    "gha.incremental",
    "gha.queries",
    "queries.core",
    "queries.tpch",
    "queries.aggregates",
    "queries.joins",
    "queries.text",
    "queries.lake",
    "queries.graph",
    "queries.streaming_bridge",
    "queries.dedup",
    "queries.clustering",
    "queries.scale_paths",
    "io.ivf_store",
    "io.lsh_store",
)
#: spans around registered-query calls; they also get build_s and plan_s
QUERY_LAYERS = SPAN_LAYERS[3:13]
#: spans whose work crosses the Arrow/Python boundary
PYTHON_LAYERS = (
    "queries.dedup",
    "queries.clustering",
    "queries.scale_paths",
    "io.ivf_store",
    "io.lsh_store",
)
SPAN_QUANTITIES = ("busy_s", "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes")


_T0 = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def per_layer_names() -> list[str]:
    names = [f"{layer}.{q}" for layer in SPAN_LAYERS for q in SPAN_QUANTITIES]
    names += [f"{layer}.{q}" for layer in QUERY_LAYERS for q in ("build_s", "plan_s")]
    names += [f"{layer}.python_worker_s" for layer in PYTHON_LAYERS]
    names += ["session.start_s", "io.sink.lake_files", "io.sink.lake_bytes"]
    return names


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def layer_of(fn) -> str:
    """``queries.<module>`` for a registered query function."""
    return fn.__module__.removeprefix("etl_github_spark.")


def start_session(work: Path, event_log: Path | None):
    """A session built from the engine's own ``BUILDER_CONF`` and
    ``RUNTIME_CONF`` on ``local[nproc]``, with every scratch directory
    inside ``work``; with ``event_log`` set, Spark also writes an
    uncompressed event log there."""
    from pyspark.sql import SparkSession

    from etl_github_spark import session

    tmp = work / "tmp"
    conf = {
        **session.BUILDER_CONF,
        **session.RUNTIME_CONF,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.resolve().as_uri(),
            "spark.eventLog.compress": "false",
        })
    b = SparkSession.builder.appName("perfbench").master(f"local[{cpu_count()}]")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return session.tune(spark)


def stop_jvm(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[str, float]:
    """(label, value) of the tail: the highest percentile with at least
    ten samples beyond it, or, below 20 samples, where that percentile
    would not exceed the median, the maximum."""
    if len(xs) < 20:
        return "max", max(xs)
    p = 100.0 * (1 - 10 / len(xs))
    return f"p{p:.0f}", percentile(xs, p)


def rows_hash(rows) -> str:
    """Order-insensitive hash of collected rows."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def dir_stats(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_``-prefixed
    bookkeeping files count in bytes but not as files."""
    files = size = 0
    for p in path.rglob("*"):
        if p.is_file():
            size += p.stat().st_size
            if not p.name.startswith((".", "_")):
                files += 1
    return files, size


@dataclass
class Run:
    """What one workload run measured."""

    tracer: Tracer = field(default_factory=Tracer)
    traced: bool = False
    ops: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: float = 0.0  # cold session start + untimed warm-ups
    session_start_s: float = 0.0
    timed_start: float = 0.0  # epoch seconds, for span filtering
    timed_end: float = 0.0
    timed_wall_s: float = 0.0  # the closed loop's wall time, for ops_per_min
    layer: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    report: dict[str, tuple[float, str]] = field(default_factory=dict)

    def op(self, kind: str, fn, *args):
        """Run and time one operation of the closed loop; a raised
        exception counts as a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            self.failed += 1
            self.problems.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            return None
        self.ops[kind].append(time.perf_counter() - t0)
        return out

    def check(self, what: str, errors: list[str]) -> None:
        """Record one output check; any error makes it a failed op."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.problems.extend(f"{what}: {e}"[:500] for e in errors)

    def latency_report(self, name: str, xs: list[float]) -> None:
        if not xs:
            return
        self.report[f"{name}_p50_s"] = (statistics.median(xs), "s")
        label, value = tail(xs)
        self.report[f"{name}_tail_s"] = (value, f"s@{label}")
        self.report[f"{name}_samples"] = (len(xs), "count")
