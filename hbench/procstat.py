"""Process measurements from ``/proc``: CPU of the JVM and its Python
workers, peak resident memory of JVM + Python driver, CPU steal, and a
fixed pure-Python host probe."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    children each has already reaped (exited Python workers)."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                fields[int(d)] = st
                parent[int(d)] = int(st[1])
    total = 0.0
    for pid, st in fields.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root or pid == root:
            # utime stime cutime cstime are fields 14-17 (index 11-14 here)
            total += sum(int(x) for x in st[11:15]) / _TICK
    return total


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


class PeakRss:
    """Samples RSS(JVM) + RSS(this process) every ``period`` seconds on a
    thread and keeps the peak of the sum, from ``start()`` to ``stop()``."""

    def __init__(self, jvm_pid: int, period: float = 0.05):
        self.pids = (jvm_pid, os.getpid())
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))
            self._stop.wait(self.period)

    def start(self) -> "PeakRss":
        self.peak = sum(rss_mb(p) for p in self.pids)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this machine in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def host_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: a yardstick for how fast this
    host ran the interpreter at that moment (median of three)."""
    out = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        out.append(time.perf_counter() - t)
    return sorted(out)[1]
