"""CPU time and resident memory of a process tree, read from /proc (Linux).

The benchmark's tree is the Python driver, the JVM it launches, and the
pyspark daemon with its Python workers. The daemon forks a worker per task
and reaps it when it exits, so a finished worker's CPU moves from its own
``utime``/``stime`` into the daemon's ``cutime``/``cstime``. Summing all four
fields over every live process therefore counts reaped workers exactly once.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may hold spaces or parentheses: split after its last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    """ppid -> [pid] over every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = children_map()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over ``pids``, in seconds."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def hwm_mb(pids: list[int]) -> float:
    """Sum of each process's resident high-water mark (VmHWM), in MB."""
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


class ProcessTree:
    """Samples of the tree rooted at ``root`` (default: this process).

    ``cpu()`` covers the root and all descendants; ``peak_rss_mb()`` covers
    the descendants only (the JVM and its Python workers), so memory the
    driver spends on output checks does not count.
    """

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._peak = 0.0

    def children(self) -> list[int]:
        return descendants(self.root)

    def wait_gone(self, pids: list[int], timeout: float) -> None:
        """Wait until none of ``pids`` is alive; SIGKILL what outlives ``timeout``."""
        deadline = time.monotonic() + timeout
        alive = list(pids)
        while alive:
            alive = [p for p in alive if _stat_fields(p) is not None
                     and _stat_fields(p)[0] != "Z"]
            if alive and time.monotonic() > deadline:
                for pid in alive:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.05)

    def cpu(self) -> float:
        return cpu_seconds([self.root] + descendants(self.root))

    def peak_rss_mb(self) -> float:
        """Highest sum of descendants' VmHWM seen by any call so far."""
        self._peak = max(self._peak, hwm_mb(descendants(self.root)))
        return self._peak

    def python_worker_cpu(self) -> float:
        """CPU of the pyspark daemon and its workers (reaped ones included)."""
        pids = [p for p in descendants(self.root)
                if any(m in cmdline(p) for m in ("pyspark.daemon", "pyspark.worker"))]
        return cpu_seconds(pids)
