"""The /proc memory sampler."""

from __future__ import annotations

import os
import subprocess
import sys

from perfbench.procmem import TreeMemorySampler, descendants, status_kb, tree_rss_kb


def test_own_status_fields():
    assert status_kb(os.getpid(), "VmRSS") > 0
    assert status_kb(os.getpid(), "VmHWM") >= status_kb(os.getpid(), "VmRSS")
    assert status_kb(2**22 + 12345, "VmRSS") == 0  # no such process


def test_tree_includes_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in descendants(os.getpid())
        assert tree_rss_kb(os.getpid()) > status_kb(os.getpid(), "VmRSS")
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in descendants(os.getpid())


def test_sampler_keeps_the_peak():
    with TreeMemorySampler(interval_s=0.01) as mem:
        ballast = bytearray(64 * 1024 * 1024)
        mem.sample()
        del ballast
    assert mem.peak_mb >= 64
    assert not mem._thread.is_alive()
