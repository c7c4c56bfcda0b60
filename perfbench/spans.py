"""Measurement helpers for the benchmark: spans, self time, the tail
percentile rule and process-tree CPU from /proc.

Spark-free and dependency-free, so the unit tests in test_spans.py run
without a JVM.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    """One timed interval.  `parent` is the index of the enclosing span
    in the recorder's list (None for an op's root span); `op_id` ties
    every span of one benchmark op together."""
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class SpanRecorder:
    """In-memory span list; nothing is written until `dump`.

    Single-threaded by design (the benchmark has one client thread):
    the open-span stack gives each new span its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [{**asdict(s), "self": st} for s, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump(rows, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover.  Children may overlap each other (concurrent work)
    or stick out of the parent; only the covered part of the parent's
    own interval is subtracted, so self time is never negative."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(lo, s.start), min(hi, s.end))
                   for lo, hi in kids.get(i, ())]
        out.append((s.end - s.start) - _union_length(clipped))
    return out


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples above
    it: (value, percentile, n).  With n samples sorted ascending that
    is the sample at rank n-11, i.e. percentile 100*(n-10)/n.  Needs
    n >= 11; fewer samples support no such percentile."""
    n = len(values)
    if n < 11:
        raise ValueError(f"tail percentile needs >= 11 samples, got {n}")
    xs = sorted(values)
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else 0.5 * (xs[mid - 1] + xs[mid])


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys on xs (0.0 when xs do not vary)."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


# ----------------------------------------------------- process-tree CPU

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stats(proc: str = "/proc") -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds of the process and its reaped
    children).  utime+stime cover every thread (the JVM's included);
    cutime+cstime cover children the process has waited for, which is
    where the CPU of finished Spark Python workers lands."""
    out = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm (field 2) may contain spaces and parentheses: split
        # after the LAST ')'
        fields = raw[raw.rfind(b")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])
        out[int(entry)] = (ppid, ticks / _TICK)
    return out


def descendants(root: int, stats: dict[int, tuple[int, float]]) -> list[int]:
    """Pids of every live descendant of `root` in a `_read_stats` map."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def live_descendants(root: int | None = None) -> list[int]:
    return descendants(os.getpid() if root is None else root, _read_stats())


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds used so far by `root` (default: this process) and
    every live descendant — this Python process, the Spark JVM and its
    Python workers — plus what reaped descendants left in their parents'
    child counters."""
    root = os.getpid() if root is None else root
    stats = _read_stats(proc)
    pids = [root] + descendants(root, stats)
    return sum(stats[p][1] for p in pids if p in stats)
