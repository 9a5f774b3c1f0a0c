"""Background sampler for host contention and process-tree memory.

Every ``interval`` seconds it reads ``/proc/loadavg``, the CPU idle and
steal shares from ``/proc/stat`` (steal is time the hypervisor ran
something else on this VM's CPUs), and the summed RSS of this process
and all its descendants (the driver JVM that spark-submit starts, and
the Python workers the JVM forks). ``stop`` joins the thread first and only then
takes the final sample, so no sample races the thread.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + fields[4]  # idle + iowait
    return idle, fields[7], sum(fields)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def descendants(root: int) -> set[int]:
    """Every live process below ``root``, read from ``/proc``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        # comm may hold spaces; fields resume after the last ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree - {root}


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` plus every descendant."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class Sampler:
    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self.load1: list[float] = []
        self.idle: list[float] = []
        self.steal: list[float] = []
        self._prev_cpu = _cpu_times()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-sampler")

    def sample(self):
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
        self.load1.append(_load1())
        now = _cpu_times()
        d_idle, d_steal, d_total = (a - b for a, b in zip(now, self._prev_cpu))
        if d_total > 0:
            self.idle.append(100.0 * d_idle / d_total)
            self.steal.append(100.0 * d_steal / d_total)
        self._prev_cpu = now

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        """Join the thread, then take the last sample; idempotent."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample()

    def summary(self) -> dict[str, float]:
        return {
            "peak_rss_mb": self.peak_rss / 2**20,
            "load1_mean": sum(self.load1) / len(self.load1),
            "idle_pct_mean": (sum(self.idle) / len(self.idle)
                              if self.idle else 0.0),
            "steal_pct_mean": (sum(self.steal) / len(self.steal)
                               if self.steal else 0.0),
        }
