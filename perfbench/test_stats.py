"""Tests for the benchmark's statistics and /proc accounting.

    python -m pytest perfbench/test_stats.py -q
"""

import os
import statistics
import subprocess
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hostspeed  # noqa: E402
import stats  # noqa: E402
from proctree import ProcessTree, descendants  # noqa: E402


def test_median_and_quartiles_match_statistics():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    assert stats.median(vals) == 4.0
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize("n,expected", [(1, None), (10, None), (11, 100 / 11), (20, 50.0),
                                        (100, 90.0), (1000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = stats.tail_percentile(n)
    if expected is None:
        assert p is None
    else:
        assert p == pytest.approx(expected)
        assert n * (1 - p / 100) == pytest.approx(10)


def test_tail_value_has_exactly_ten_larger_samples():
    vals = [float(v) for v in range(100, 0, -1)]
    t = stats.tail(vals)
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100}
    assert sum(v > t["value"] for v in vals) == 10
    assert stats.tail(vals[:10]) is None


def test_failed_op_ratio():
    assert stats.failed_op_ratio(4, 1) == 0.25
    assert stats.failed_op_ratio(1, 0) == 0.0
    with pytest.raises(ValueError):
        stats.failed_op_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_op_ratio(2, 3)


BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _spawn(code: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)


def test_tree_cpu_counts_reaped_and_live_workers():
    # a daemon-like parent: forks a worker that burns CPU and is reaped,
    # then starts a second worker that stays alive, then waits
    parent = _spawn(
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.6)!r}])\n"
        f"live = subprocess.Popen([sys.executable, '-c', {BURN.format(s=0.6) + 'time.sleep(60)'!r}])\n"
        "time.sleep(1.5)\n"
        "print('ready', flush=True)\n"
        "time.sleep(60)\n"
    )
    try:
        assert parent.stdout.readline().strip() == "ready"
        tree = ProcessTree(root=parent.pid)
        assert len(descendants(parent.pid)) == 1  # the reaped worker is gone
        # 0.6 s reaped (in the parent's cutime) + 0.6 s live worker
        assert tree.cpu() >= 1.1
    finally:
        for pid in descendants(parent.pid):
            os.kill(pid, 9)
        parent.kill()
        parent.wait(timeout=10)


def test_peak_rss_counts_descendants_only():
    # the root allocates 300 MB itself, its one child 200 MB
    root = _spawn(
        "import subprocess, sys, time\n"
        "own = bytearray(300 * 1024 * 1024)\n"
        "child = subprocess.Popen([sys.executable, '-c', "
        "'b = bytearray(200 * 1024 * 1024); print(1, flush=True); import time; time.sleep(60)'],"
        " stdout=subprocess.PIPE)\n"
        "child.stdout.readline()\n"
        "print('ready', flush=True)\n"
        "time.sleep(60)\n"
    )
    try:
        assert root.stdout.readline().strip() == "ready"
        tree = ProcessTree(root=root.pid)
        assert 200 <= tree.peak_rss_mb() < 300
        for pid in descendants(root.pid):
            os.kill(pid, 9)
        time.sleep(0.2)
        assert tree.peak_rss_mb() >= 200  # a high-water mark never drops
    finally:
        for pid in descendants(root.pid):
            os.kill(pid, 9)
        root.kill()
        root.wait(timeout=10)


def test_slowdown_is_the_bracketing_probes_mean_over_the_reference():
    ref = hostspeed.REFERENCE_S
    assert hostspeed.slowdown(ref, ref) == pytest.approx(1.0)
    assert hostspeed.slowdown(ref, 2 * ref) == pytest.approx(1.5)
    # an op's CPU on a core twice as slow as the reference reads as half
    assert 20.0 / hostspeed.slowdown(2 * ref, 2 * ref) == pytest.approx(10.0)


def test_probe_counts_its_own_thread_cpu_only():
    # a second thread holding the GIL half the time doubles the probe's wall
    # time, not its thread CPU
    idle = hostspeed.probe_s(reps=5)
    done = []

    def burn():
        while not done:
            pass

    t = threading.Thread(target=burn)
    t.start()
    try:
        busy = hostspeed.probe_s(reps=5)
    finally:
        done.append(1)
        t.join()
    assert 0.001 < idle < 1.0
    assert busy < 1.5 * idle
