"""The CPU clock behind the end-to-end metrics, and the superstep spans it
is read over."""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

from worker import CpuClock, superstep_spans  # noqa: E402

BUSY = "import time\nend = time.monotonic() + 3.0\nwhile time.monotonic() < end:\n    pass\n"


def test_clock_reads_a_busy_process_cpu_time():
    child = subprocess.Popen([sys.executable, "-c", BUSY])
    try:
        clock = CpuClock(child.pid)
        time.sleep(0.2)
        start = time.monotonic()
        time.sleep(1.0)
        end = time.monotonic()
        cpu = clock.between(start, end)
        idle = clock.between(start, start)
        clock.stop()
    finally:
        child.kill()
        child.wait()
    # One busy thread for 1 s of wall time; other tenants may take some.
    assert 0.5 <= cpu <= 1.1
    assert idle == 0.0


def test_superstep_spans_follow_init_back_to_back():
    r = SimpleNamespace(
        build_seconds=2.0,
        history=[SimpleNamespace(seconds=s) for s in (0.5, 0.25, 1.0)],
    )
    assert superstep_spans(10.0, r) == [(12.0, 12.5), (12.5, 12.75), (12.75, 13.75)]
