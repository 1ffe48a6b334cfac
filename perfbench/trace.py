"""Measurement primitives: spans and self time, the tail-percentile rule,
Spark job counting, and the CPU time and peak RSS of the process tree
(driver Python, Spark JVM, Python workers).

Spans are recorded from the benchmark's own files around calls into each
layer's public functions; the program itself is not instrumented.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: int


@dataclass
class Tracer:
    """In-memory span recorder. With ``enabled=False`` :meth:`span` is a
    no-op context, so untraced runs pay one attribute test per call."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op_id: int = 0):
        return _SpanCtx(self, name, op_id) if self.enabled else _NOOP

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int):
        self.t, self.name, self.op_id = tracer, name, op_id

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, time.perf_counter(), math.nan, parent, self.op_id))
        t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        idx = self.t._stack.pop()
        self.t.spans[idx].end = time.perf_counter()
        return False


class _Noop:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name spent in the span itself: each span's
    duration minus the part of its interval covered by the union of its
    direct children (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile of the ladder 99.9 … 50
    that has at least ten samples strictly beyond it (nearest-rank
    percentile: rank ``ceil(p/100·n)``), or None with fewer than 11
    samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in _LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def next_job_id(spark) -> int:
    """The DAG scheduler's next job id: the difference across a call is
    the number of Spark jobs the call launched."""
    jid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return jid if isinstance(jid, int) else jid.get()


def process_tree(root: int) -> list[tuple[int, int]]:
    """``(pid, depth)`` of ``root`` (depth 0) and all its live descendants,
    from the parent pids in /proc/<pid>/stat (one read per process, where
    the per-thread ``children`` files cost one read per JVM thread)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError):
                continue  # exited between listing and reading
            children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [(root, 0)]
    while stack:
        pid, depth = stack.pop()
        out.append((pid, depth))
        stack.extend((c, depth + 1) for c in children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError):
        return 0


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` (default: this process) and all its live descendants."""
    total = 0
    for pid, _ in process_tree(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples, every ``interval`` seconds while active, the RSS of this
    process tree split in two: the driver side (this Python process and
    the Spark JVM it launched — depth 0 and 1) and the Python workers the
    JVM forked (deeper). Peaks are kept for the whole tree and per side,
    with the largest worker count seen. ``cpu_s`` is the CPU time the
    sampling thread has used so far, which CPU measurements of the tree
    subtract."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.total = self.python = self.driver = self.workers = self.workers_count = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            t0 = time.thread_time()
            tree = process_tree(os.getpid())
            python = sum(_rss_bytes(p) for p, depth in tree if depth == 0)
            driver = python + sum(_rss_bytes(p) for p, depth in tree if depth == 1)
            workers = [_rss_bytes(p) for p, depth in tree if depth > 1]
            self.total = max(self.total, driver + sum(workers))
            self.python = max(self.python, python)
            self.driver = max(self.driver, driver)
            self.workers = max(self.workers, sum(workers))
            self.workers_count = max(self.workers_count, len(workers))
            self.cpu_s += time.thread_time() - t0
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def total_mb(self) -> float:
        return self.total / 2**20

    @property
    def python_mb(self) -> float:
        return self.python / 2**20

    @property
    def driver_mb(self) -> float:
        return self.driver / 2**20

    @property
    def workers_mb(self) -> float:
        return self.workers / 2**20
