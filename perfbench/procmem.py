"""Resident-memory sampling from ``/proc`` (no psutil).

The driver process, its JVM child and the Python workers the JVM forks
are one process tree; :class:`TreeMemorySampler` sums ``VmRSS`` over the
tree a few times a second and keeps the highest sum.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PROC = Path("/proc")


def status_kb(pid: int, field: str) -> int:
    """A ``kB`` field (``VmRSS``, ``VmHWM``) of ``/proc/<pid>/status``;
    0 when the process is gone or has no such field (a zombie)."""
    try:
        with open(_PROC / str(pid) / "status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _parents() -> dict[int, int]:
    out = {}
    for d in _PROC.iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces and parens: fields follow the last ')'
        out[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_kb(root: int) -> int:
    return sum(status_kb(p, "VmRSS") for p in descendants(root))


class TreeMemorySampler:
    """Background thread that tracks the peak summed RSS of a process tree."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2) -> None:
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> int:
        kb = tree_rss_kb(self.root)
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def __enter__(self) -> TreeMemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
