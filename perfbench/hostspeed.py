"""How fast this host's cores run right now, from a fixed pure-Python probe.

On a shared host the work a core gets done per CPU second changes with what
the host's other tenants run (a neighbour on the same physical core slows
it), and the CPU time an op takes changes with it: on the 4-vCPU VM this
benchmark was tuned on, the CPU per op of both workloads fell 1.6x within
minutes when the host's load dropped, and this probe's time fell 1.5x.
The probe does the same work every time and runs between ops, while the
engine is idle, so the ratio of its CPU time to ``REFERENCE_S`` rescales an
op's CPU time to what it would be on a core of reference speed.
"""

from __future__ import annotations

import hashlib
import statistics
import time

# the probe's thread CPU on an uncontended core of the tuning host; the
# rescaled metrics are in seconds on a core where the probe takes this long
REFERENCE_S = 0.030
_BUF = bytes(range(256)) * 65536  # 16 MiB


def probe_s(reps: int = 9) -> float:
    """Median thread CPU seconds of one probe unit: an integer loop (the
    interpreter) and a SHA-256 over 16 MiB (memory streaming)."""
    times = []
    for _ in range(reps):
        t0 = time.thread_time()
        x = 0
        for i in range(200_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        hashlib.sha256(_BUF).digest()
        times.append(time.thread_time() - t0)
    return statistics.median(times)


def slowdown(before: float, after: float) -> float:
    """Host slowdown over an interval, from the probes that bracket it."""
    return (before + after) / 2 / REFERENCE_S
