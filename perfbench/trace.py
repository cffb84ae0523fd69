"""Tracing for the benchmark's traced run: spans recorded around calls
into the engine's layers, and Spark's own per-job and per-stage counters.

Spans are kept in memory (``Tracer.spans``) and summarized when the run
ends. Spark counters come from the application status store, which Spark
keeps even with the web UI disabled.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float
    wall_start: float  # epoch seconds, to match Spark's job timestamps
    parent: str | None
    call: str


class Tracer:
    """Records a span around every call of the wrapped module functions.

    A span named ``root`` opened on a thread with no open span starts a new
    call; every span recorded while it is open shares its ``call``
    identifier. ``parent`` is the innermost open span of the same thread,
    or the open root span for work run on another thread (the engine's
    background pools)."""

    def __init__(self, root: str):
        self.root = root
        self.spans: list[Span] = []
        self._open = threading.local()
        self._lock = threading.Lock()
        self._call = ""
        self._calls = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._open.__dict__.setdefault("stack", [])
        starts_call = name == self.root and not stack
        if starts_call:
            self._calls += 1
            self._call = f"{self.root}-{self._calls}"
        parent = stack[-1] if stack else (self.root if self._call and not starts_call else None)
        call = self._call
        stack.append(name)
        wall, start = time.time(), time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if starts_call:
                self._call = ""
            with self._lock:
                self.spans.append(Span(name, start, end, wall, parent, call))
                self.overhead_s += (start - t_in) + (time.perf_counter() - end)

    @contextlib.contextmanager
    def wrapping(self, targets: dict[str, tuple[object, str]]):
        """Replace ``module.attr`` by a span-recording wrapper for each
        ``span name -> (module, attr)``; restore them on exit."""
        saved = []
        for name, (module, attr) in targets.items():
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, self._wrap(name, fn))
        try:
            yield
        finally:
            for module, attr, fn in saved:
                setattr(module, attr, fn)

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def calls(self) -> list[Span]:
        return sorted((s for s in self.spans if s.name == self.root), key=lambda s: s.start)

    def of(self, name: str, call: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name and s.call == call), key=lambda s: s.start)

    def total(self, name: str, call: str) -> float:
        return sum(s.end - s.start for s in self.of(name, call))


@dataclass
class Job:
    id: int
    group: str | None
    start_ms: int
    end_ms: int
    stage_ids: list[int]


class SparkCounters:
    """Reads jobs, stages and tasks from Spark's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    @staticmethod
    def _seq(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    @staticmethod
    def _opt(opt):
        return opt.get() if opt.isDefined() else None

    def jobs(self) -> list[Job]:
        out = []
        for j in self._seq(self._store.jobsList(None)):
            start, end = self._opt(j.submissionTime()), self._opt(j.completionTime())
            if start is None or end is None:
                continue
            out.append(
                Job(
                    j.jobId(),
                    self._opt(j.jobGroup()),
                    start.getTime(),
                    end.getTime(),
                    [int(s) for s in self._seq(j.stageIds())],
                )
            )
        return sorted(out, key=lambda j: j.start_ms)

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        """Jobs submitted within the wall-clock window [t0, t1] (seconds)."""
        return [j for j in self.jobs() if t0 * 1000 - 1 <= j.start_ms <= t1 * 1000 + 1]

    def jobs_in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs() if j.group == group]

    def _stages(self, jobs: list[Job]) -> list:
        """Every attempt of the stages the jobs ran (skipped stages have no
        completed tasks)."""
        out = []
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            out.extend(a for a in self._seq(attempts) if a.numCompleteTasks() > 0)
        return out

    def stage_totals(self, jobs: list[Job]) -> dict[str, float]:
        """Summed counters of the stages the jobs ran."""
        tot = dict.fromkeys(
            ("task_s", "gc_s", "spill_bytes", "shuffle_write_bytes", "input_bytes", "tasks"), 0.0
        )
        for st in self._stages(jobs):
            tot["task_s"] += st.executorRunTime() / 1000
            tot["gc_s"] += st.jvmGcTime() / 1000
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["input_bytes"] += st.inputBytes()
            tot["tasks"] += st.numCompleteTasks()
        return tot

    def max_task_skew(self, jobs: list[Job]) -> float:
        """Over the shuffle-reading stages the jobs ran: the largest ratio of
        max to median records read by one task (1.0 = even)."""
        worst = 1.0
        for st in self._stages(jobs):
            if st.shuffleReadRecords() == 0:
                continue
            records = []
            for t in self._seq(self._store.taskList(st.stageId(), st.attemptId(), 100_000)):
                m = self._opt(t.taskMetrics())
                if m is not None:
                    records.append(m.shuffleReadMetrics().recordsRead())
            med = statistics.median(records) if records else 0
            if med > 0:
                worst = max(worst, max(records) / med)
        return worst


def idle_seconds(jobs: list[Job], t0: float, t1: float) -> float:
    """Wall time in [t0, t1] during which no Spark job was running: serial
    driver time."""
    busy, cursor = 0.0, t0 * 1000
    for j in jobs:
        lo, hi = max(j.start_ms, cursor), min(j.end_ms, t1 * 1000)
        if hi > lo:
            busy += hi - lo
            cursor = hi
    return max(0.0, t1 - t0 - busy / 1000)


def tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory; (0, 0) when it does not exist."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
