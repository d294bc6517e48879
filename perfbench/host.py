"""Host-side records read from /proc: CPU busy and steal over a run, load
at its start, a fixed-loop speed probe before and after, and the peak
resident memory of the benchmark's process tree (Python driver, Spark
JVM, Python workers).

The host-noise record is a diagnostic kept beside each result; it never
adjusts a metric.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_times() -> dict:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    vals = [int(x) for x in parts[: len(names)]]
    return dict(zip(names, vals))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def calib_loop_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a crude probe of how fast the
    host runs this process right now."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i
    return round(time.perf_counter() - t0, 4)


def noise_record(before: dict, after: dict, load_at_start: list[float]) -> dict:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    idle = d["idle"] + d["iowait"]
    return {
        "cpu_busy_share": round((total - idle - d["steal"]) / total, 4),
        "cpu_steal_share": round(d["steal"] / total, 4),
        "loadavg_at_start": load_at_start,
        "ncpu": os.cpu_count(),
    }


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of a process tree: the sum over every process ever seen
    in the tree of its own high-water mark (VmHWM). Processes that exit
    keep the last mark read; the tree is re-read every ``period`` s."""

    def __init__(self, root_pid: int, period: float = 0.5):
        self.root = root_pid
        self.period = period
        self.marks: dict[int, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        todo = [self.root]
        while todo:
            pid = todo.pop()
            kb = _hwm_kb(pid)
            if kb:
                self.marks[pid] = max(self.marks.get(pid, 0), kb)
            todo.extend(_children(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.sample()
        return sum(self.marks.values()) / 1024.0
