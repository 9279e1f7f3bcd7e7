"""Small statistics helpers shared by the runner and the trace reducer."""

from __future__ import annotations

import os
import threading

# candidate tail percentiles, lowest first
PERCENTILES = (50, 75, 90, 95, 99)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values) -> float:
    return percentile(values, 50)


def tail_percentile(n: int, min_beyond: int = 10) -> int:
    """The highest candidate percentile that leaves at least
    ``min_beyond`` of ``n`` samples above it, so the tail estimate rests
    on that many points; falls back to the median for small samples."""
    best = PERCENTILES[0]
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= min_beyond:
            best = p
    return best


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by the union of (start, end) intervals,
    each clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's wall minus the union of its children's intervals (the
    children may overlap each other when they run on several threads)."""
    return (end - start) - union_length(children, start, end)


def descendants(pid: int | None = None) -> list[int]:
    """Every live descendant of ``pid`` (default: this process)."""
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:  # the process ended meanwhile
            continue
        for task in tasks:
            try:
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


class TreeRSS:
    """Samples the resident memory of this process and all of its
    descendants (JVM, Python workers) from /proc and keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:  # the process ended meanwhile
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def start(self) -> "TreeRSS":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling (idempotent); returns the peak in MiB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()
        return self.peak_bytes / (1 << 20)
