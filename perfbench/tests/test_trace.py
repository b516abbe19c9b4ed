"""Span bookkeeping and the event-log reducer, on a tiny committed log."""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench.trace import Span, Tracer, reduce_event_log

LOG = Path(__file__).parent / "data" / "eventlog"

# the log's jobs: 0 at t=1000.5 s, 1 at t=1002.5 s, 2 at t=1009.0 s
SPANS = [
    Span("gha.pipeline", 1000.0, 1002.0, None),
    Span("gha.queries", 1002.0, 1005.0, None),
    Span("io.sink", 1002.4, 1003.0, 1),
]


def test_jobs_go_to_the_innermost_span_open_at_submission():
    out = reduce_event_log(LOG, SPANS)
    assert set(out) == {"gha.pipeline", "io.sink"}  # job 2 falls outside every span
    assert out["gha.pipeline"] == pytest.approx({
        "jobs": 1, "tasks": 2, "executor_cpu_s": 3.0, "gc_s": 0.15,
        "shuffle_write_bytes": 1500, "python_worker_s": 0.0,
    })
    assert out["io.sink"] == pytest.approx({
        "jobs": 1, "tasks": 2, "executor_cpu_s": 0.75, "gc_s": 0.02,
        "shuffle_write_bytes": 2048, "python_worker_s": 2.0,
    })


def test_self_time_excludes_child_spans():
    tr = Tracer()
    tr.spans = list(SPANS)
    assert tr.self_times() == pytest.approx({"gha.pipeline": 2.0, "gha.queries": 2.4, "io.sink": 0.6})
    assert tr.self_times(since=1002.0) == pytest.approx({"gha.queries": 2.4, "io.sink": 0.6})


def test_tracer_nests_spans_on_the_calling_thread():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    with tr.span("next"):
        pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0), ("next", None)]
    assert all(s.start <= s.end for s in tr.spans)
