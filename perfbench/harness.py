"""The per-run measurement context shared by the workloads.

``Bench.timed(name)`` is the one layer boundary: it tags the Spark jobs a
call launches with ``name`` (the event-log phase), counts them through
the DAG scheduler's job-id delta, times the call in wall and process-tree
CPU seconds, and — in a traced run — records a span and the codegen
fallbacks the driver log gained. The CPU figure leaves out the
benchmark's own measuring: the /proc walk that reads the tree's CPU at
the end of the call, and what the ``overhead`` clock (the RSS sampler's
thread CPU) gained during the call; ``overhead_cpu`` sums what was left
out.
``Bench.op(kind)`` counts a user-visible operation and turns an exception
inside it into a failed op instead of aborting the run.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable

from perfbench.trace import Tracer, next_job_id, tree_cpu_seconds

CODEGEN_FALLBACK = "Failed to compile"


class Bench:
    def __init__(self, spark, tracer: Tracer, driver_log: str | None = None, log=sys.stderr):
        self.spark = spark
        self.tracer = tracer
        self.driver_log = driver_log
        self.log = log
        self._log_offset = 0
        self.seconds: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, float] = defaultdict(float)
        self.jobs: dict[str, int] = defaultdict(int)
        self.fallbacks: dict[str, int] = defaultdict(int)
        self.ops: dict[int, bool] = {}  # op id -> still ok
        self._op_ids = itertools.count(1)
        self.warmup = False  # job descriptions of a warm-up pass fold into no phase
        self.overhead: Callable[[], float] = lambda: 0.0
        self.overhead_cpu = 0.0

    # -- layer boundaries -------------------------------------------------
    @contextlib.contextmanager
    def timed(self, name: str, op_id: int = 0):
        sc = self.spark.sparkContext
        sc.setJobDescription(f"warmup.{name}" if self.warmup else name)
        j0 = next_job_id(self.spark)
        o0 = self.overhead()
        c0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op_id):
                yield
        finally:
            self.seconds[name].append(time.perf_counter() - t0)
            w0 = time.thread_time()
            c1 = tree_cpu_seconds()
            own = time.thread_time() - w0 + self.overhead() - o0
            self.cpu[name] += c1 - c0 - own
            self.overhead_cpu += own
            self.jobs[name] += next_job_id(self.spark) - j0
            sc.setJobDescription(None)
            if self.tracer.enabled:
                self.fallbacks[name] += self._new_fallbacks()

    def _new_fallbacks(self) -> int:
        if not self.driver_log:
            return 0
        with open(self.driver_log, "rb") as f:
            f.seek(self._log_offset)
            chunk = f.read()
        self._log_offset += len(chunk)
        return chunk.count(CODEGEN_FALLBACK.encode())

    def reset(self) -> None:
        """End a warm-up pass: forget its timings, counts, spans and
        log lines. Ops that failed in it stay counted as failed."""
        for d in (self.seconds, self.cpu, self.jobs, self.fallbacks):
            d.clear()
        self.tracer.spans.clear()
        self.ops = {op_id: ok for op_id, ok in self.ops.items() if not ok}
        self.overhead_cpu = 0.0
        self.warmup = False
        if self.driver_log and os.path.exists(self.driver_log):
            self._log_offset = os.path.getsize(self.driver_log)

    def total(self, *names: str) -> float:
        return sum(sum(self.seconds.get(n, ())) for n in names)

    # -- operations and failures -----------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Yields the new op id. An exception inside marks the op failed,
        is logged with its traceback, and does not propagate."""
        op_id = next(self._op_ids)
        self.ops[op_id] = True
        try:
            with self.tracer.span(kind, op_id):
                yield op_id
        except Exception:  # one failed op must not end the run
            self.ops[op_id] = False
            print(f"op {op_id} ({kind}) raised:\n{traceback.format_exc()}", file=self.log)

    def fail(self, op_id: int, why: str) -> None:
        """A check found the output of ``op_id`` wrong."""
        if self.ops.get(op_id, False):
            print(f"op {op_id} failed its check: {why}", file=self.log)
        self.ops[op_id] = False

    def failed_op(self, why: str) -> None:
        """Count an op that could not even start (e.g. a missing input)."""
        op_id = next(self._op_ids)
        self.ops[op_id] = False
        print(f"op {op_id} failed: {why}", file=self.log)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for ok in self.ops.values() if not ok)
