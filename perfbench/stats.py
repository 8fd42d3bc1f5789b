"""Small measurement helpers: medians, the tail rule, peak memory."""

from __future__ import annotations

import os
import statistics
import threading


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile that leaves ten samples above it, as
    ``(value, percentile)``. A run with fewer than 110 samples keeps
    one sample in ten above it instead, so the tail never falls toward
    the median; under ten samples that is the maximum."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0
    i = len(s) - 1 - min(10, len(s) // 10)
    return s[i], 100.0 * (i + 1) / len(s)


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size (PSS) of ``root`` and all its
    descendants: pages shared between forked Python workers count once."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the memory of this process tree (the worker, its JVM and
    the JVM's Python workers) every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
