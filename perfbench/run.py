"""Benchmark entry point.

    python3 perfbench/run.py --workload {gha_hourly,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from the seed into
``.perfbench_work/`` (cached per seed); all scratch output stays there.
A traced run also leaves its spans in ``.perfbench_work/spans-*.json``.
Human-readable lines come first; the last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _end_to_end(run, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    samples = [x for xs in run.ops.values() for x in xs]
    if not samples:
        raise RuntimeError(f"no timed operation succeeded: {run.problems[:3]}")
    return {
        "setup_s": (run.setup_s, "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(x) for x in samples)), "s"),
        "ops_per_min": (60.0 * len(samples) / run.timed_wall_s, "1/min"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _per_layer(run, event_log: Path) -> dict[str, float]:
    from perfbench.harness import per_layer_names
    from perfbench.trace import reduce_event_log

    spans = [s for s in run.tracer.spans if s.start >= run.timed_start]
    out = dict.fromkeys(per_layer_names(), 0.0)
    for name, busy in run.tracer.self_times(since=run.timed_start).items():
        out[f"{name}.busy_s"] = busy
    for name, qty in reduce_event_log(event_log, spans).items():
        for q, v in qty.items():
            key = f"{name}.{q}"
            if key in out:
                out[key] = v
    out.update({k: v for k, v in run.layer.items() if k in out})
    out["session.start_s"] = run.session_start_s
    return out


def _wait_for_children(timeout_s: float = 60.0) -> None:
    from perfbench.procmem import descendants

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while [p for p in descendants(me) if p != me] and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "etl_github_spark").is_dir() or not (ROOT / "tests").is_dir():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))

    from perfbench.harness import Run, stop_jvm
    from perfbench.procmem import TreeMemorySampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"run-{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # registered queries use tempfile
    # the engine's own heap knob: its 8g default let one run's JVM grow to
    # 2.5 GB and made runs up to 1.7x longer on a shared 16 GB, 4-core host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    event_log = work / "eventlog" if args.trace else None

    run = Run(traced=bool(args.trace))
    spark = None
    try:
        with TreeMemorySampler() as mem:
            spark = WORKLOADS[args.workload](
                run, work, WORK_ROOT / "inputs", args.seed, args.seconds, event_log
            )
            stop_jvm(spark)
            spark = None
    finally:
        if spark is not None:
            stop_jvm(spark)
        _wait_for_children()

    e2e = _end_to_end(run, mem.peak_mb)
    run.report["failed_ops_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
    for name, (value, unit) in {**e2e, **run.report}.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for p in run.problems:
        print(f"{args.workload} problem: {p}")

    last = WORK_ROOT / f"last-{args.workload}-{args.seed}.json"
    if args.trace:
        run.tracer.dump(WORK_ROOT / f"spans-{args.workload}-{args.seed}.json")
        layer = _per_layer(run, event_log)
        busy = sum(v for k, v in layer.items() if k.endswith(".busy_s"))
        window = run.timed_end - run.timed_start
        print(f"{args.workload} traced span coverage {busy / window:.4f} of {window:.3f} s timed")
        if last.exists():  # the untraced run of this seed, for the tracing overhead
            plain = json.loads(last.read_text())
            for name, (value, unit) in e2e.items():
                if name in plain and plain[name]:
                    print(f"{args.workload} trace overhead {name} {value / plain[name]:.4f}x")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        last.write_text(json.dumps({k: v for k, (v, _) in e2e.items()}))
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}

    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
