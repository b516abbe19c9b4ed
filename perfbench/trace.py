"""Spans around calls into the engine's layers, and the reduction of a
Spark event log onto those spans.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory; the
benchmark opens one around each call it makes into a layer. After the
session stops, :func:`reduce_event_log` attributes every Spark job to the
innermost span that was open when the job was submitted (job groups do
not follow driver-side thread pools, submission time does) and sums the
job's task metrics into that span.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

#: per-span quantities taken from the event log
EVENT_QUANTITIES = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "python_worker_s",
)
_PYTHON_WORKER_METRICS = {
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. Spans nest on the calling thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def self_times(self, since: float = float("-inf")) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover, over spans that started at or after ``since``."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.start >= since:
                out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


def _innermost(spans: list[Span], t: float) -> int | None:
    """Index of the latest-started span open at ``t``."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def _event_files(log_dir: Path) -> list[Path]:
    return sorted(p for p in log_dir.rglob("*") if p.is_file() and p.name.startswith(("events_", "local-")))


def reduce_event_log(log_dir: Path, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Sum jobs, tasks, executor CPU, GC, shuffle bytes written and Python
    worker time per span name. Each event file is one application, so job
    and stage ids are resolved per file."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_QUANTITIES, 0.0))
    for f in _event_files(log_dir):
        stage_span: dict[int, int | None] = {}
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    i = _innermost(spans, ev["Submission Time"] / 1000.0)
                    for sid in ev["Stage IDs"]:
                        stage_span.setdefault(sid, i)
                    if i is not None:
                        out[spans[i].name]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    i = stage_span.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if i is None or not tm:
                        continue
                    q = out[spans[i].name]
                    q["tasks"] += 1
                    q["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    q["gc_s"] += tm["JVM GC Time"] / 1e3
                    q["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    for acc in ev["Task Info"].get("Accumulables", ()):
                        if acc.get("Name") in _PYTHON_WORKER_METRICS:
                            q["python_worker_s"] += float(acc["Update"]) / 1e3
    return {k: dict(v) for k, v in out.items()}
