"""Summary statistics, process-tree memory sampling and ambient probes."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile (nearest rank) that leaves at least
    ``TAIL_MIN_BEYOND`` samples above its rank, as ``(percentile, value)``.
    ``None`` when no percentile at or above the median qualifies."""
    n = len(values)
    ordered = sorted(values)
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_MIN_BEYOND:
            return p, ordered[rank - 1]
    return None


def _peak_rss_kb(pid: int) -> int:
    """The kernel's high-water mark of the process's resident memory
    (``VmHWM``): a counter read, so sampling it does not slow the JVM."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(root: int) -> list[int]:
    """``root`` and all its live descendants, from ``/proc/*/stat``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        parent[int(name)] = ppid
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


class PeakRss:
    """Peak resident memory of this process tree (the Spark driver JVM
    and its Python workers included): each process's high-water mark,
    summed.  Polled once a second so processes that exit early count."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _poll(self) -> None:
        for pid in _children(os.getpid()):
            self._peaks[pid] = max(self._peaks.get(pid, 0), _peak_rss_kb(pid))
            if pid not in self._names:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        self._names[pid] = f.read().strip()
                except OSError:
                    self._names[pid] = "?"

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MiB per ``<pid>:<command>``, so an outlier can be traced
        to one process."""
        return {f"{pid}:{self._names[pid]}": kb / 1024.0 for pid, kb in self._peaks.items()}

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()


def ambient_probe() -> dict[str, float]:
    """What else the box is doing: a fixed pure-Python spin (ms) and the
    copy bandwidth between two 64 MiB buffers (GB/s, best of three)."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i
    spin_ms = (time.perf_counter() - t0) * 1000.0
    src = np.ones(64 * 1024 * 1024, dtype=np.uint8)
    dst = np.empty_like(src)
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return {"cpu_spin_ms": round(spin_ms, 3), "mem_bw_gbps": round(2 * src.nbytes / best / 1e9, 3)}
