"""Statistics and process measurements the benchmark reports.

Everything here is free of Spark so it can be tested on its own.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tail_percentile(
    samples: list[float], beyond: int = 10, cap: float = 0.90
) -> tuple[float, float] | None:
    """The highest percentile, at most ``cap``, that has at least
    ``beyond`` samples above it, as ``(percentile, value)``.

    With ``n`` samples the value at sorted index ``i`` has ``n - 1 - i``
    samples above it, so the highest usable index is ``n - 1 - beyond``.
    ``None`` when there are not more than ``beyond`` samples.
    """
    n = len(samples)
    if n <= beyond:
        return None
    i = min(n - 1 - beyond, math.floor(cap * n + 1e-9) - 1)
    return (i + 1) / n, sorted(samples)[i]


def slot_util(run_s: float, wall_s: float, cores: int) -> float:
    """Share of the task slots kept busy: executor run time over the
    slot-seconds the wall time offered."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return run_s / (wall_s * cores)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cpu_probe() -> float:
    """Seconds for a fixed amount of single-core hashing; a reading well
    above the usual one means the machine was contended."""
    block = bytes(range(256)) * 256
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(3000):
        h.update(block)
    return time.perf_counter() - t0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    end = raw.rfind(")")
    return raw[end + 2 :].split() if end >= 0 else None


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _is_runtime(pid: int) -> bool:
    comm = _comm(pid)
    return comm == "java" or comm.startswith("python")


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the Python processes below ``root``
    (the Spark worker daemon and its forked workers), including workers
    that already exited and were reaped by their parent."""
    total = 0
    for pid in descendants(root):
        if not _comm(pid).startswith("python"):
            continue
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(f) for f in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and of the JVM and Python processes below
    it, in MB. Other children are left out: a process the JVM forks shows
    the JVM's pages as its own until it execs."""
    pages = 0
    kids = [p for p in descendants(root) if _is_runtime(p)]
    for pid in [root, *kids]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 1e6


class PeakRss:
    """Samples the resident memory of a process tree in the background
    and keeps the peak. Use as a context manager."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
