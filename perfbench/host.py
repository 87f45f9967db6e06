"""Host weather and memory, read from /proc.

``CpuWindow`` gives the busy and steal share of all CPUs over a window,
so a slow run on a time-shared host can be told apart from a slow
build.  ``RssSampler`` polls the memory of this process and all of its
descendants (the JVM that pyspark launches and the Python workers the
JVM forks) and keeps the peak of their sum.  It sums proportional set
sizes: the workers are forked from one daemon and share most of their
pages, which a sum of plain RSS would count once per worker.
"""

from __future__ import annotations

import os
import threading


def cpu_ticks():
    """(busy, steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return v[0] + v[1] + v[2], steal, sum(v)


class CpuWindow:
    def __init__(self):
        self.t0 = cpu_ticks()

    def shares(self):
        """(busy_pct, steal_pct) since construction."""
        b1, s1, t1 = cpu_ticks()
        b0, s0, t0 = self.t0
        dt = max(1, t1 - t0)
        return 100.0 * (b1 - b0) / dt, 100.0 * (s1 - s0) / dt


def _children_map():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int):
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of root and its descendants."""
    total = 0
    for p in tree_pids(root):
        try:
            total += _pss_bytes(p)
        except OSError:
            continue
    return total


class RssSampler:
    """Background poller of the process tree's summed memory.  One
    sample costs about 50 ms of a core (the kernel walks the JVM's page
    tables), so it polls once a second."""

    def __init__(self, root: int | None = None, interval: float = 1.0):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(self.root))
