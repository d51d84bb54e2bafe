"""Host noise and process-tree memory, read from /proc.

A run records these next to its metrics so that a noisy host shows in
the record instead of in a metric.
"""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss_pages: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss_pages[pid] = rss
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss_pages.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) until ``stop``."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._done.wait(self._interval):
            self.peak = max(self.peak, _tree_rss_bytes(me))

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20
