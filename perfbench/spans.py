"""Span recorder for the traced run.

Spans are opened from the benchmark's own files, around calls into the
program's public functions: ``wrap`` replaces a function at the module
attribute its caller looks it up through (``did.attgt.preprocess_did``,
``did.kernels.irls_logit``, ...), and ``span`` brackets a call the
benchmark makes itself (a query call, a noop write).

Spark jobs are attributed by job-id range, not by job group: job groups
are thread-local properties and do not reach jobs submitted from a
``ThreadPoolExecutor`` (``preprocess_did`` does that), while job ids are
handed out in submission order by one counter. A job belongs to the
innermost span that was open when its id was handed out. Stage metrics
come from the status store's last stage attempt; a stage reused by a
later job is counted once, and a skipped stage not at all. When the
status store is unavailable the public ``statusTracker`` still gives job,
stage and task counts, and the time metrics read 0.

Spans are kept in memory and reduced once per op (``end_op``); nothing is
written while an op runs.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

SPAN_METRICS = (
    "self_s",
    "calls",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_mb",
    "input_mb",
    "driver_s",
    "core_util",
)

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    depth: int
    t0: float
    j0: int
    t1: float = 0.0
    j1: int = 0
    child_s: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Recorder:
    """Records spans and per-op counters for one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._jvm_sc = self.sc._jsc.sc()
        try:
            self._store = self._jvm_sc.statusStore()
            self._store.applicationInfo()
        except Py4JError:  # py4j: the status store is not public API
            self._store = None
        self._stack: list[Span] = []
        self._spans: list[Span] = []
        self._counted_stages: set[int] = set()
        self.counters: dict[str, float] = defaultdict(float)
        self.ops: list[dict[str, float]] = []
        self.storage_mb_peak = 0.0
        self.failed_tasks = 0

    # -- job ids ---------------------------------------------------------
    def next_job_id(self) -> int:
        """Id the next submitted job will get (DAGScheduler's counter)."""
        return int(self._jvm_sc.dagScheduler().nextJobId())

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        s = Span(name, len(self._stack), time.time(), self.next_job_id())
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.j1 = self.next_job_id()
            s.t1 = time.time()
            if self._stack:
                self._stack[-1].child_s += s.t1 - s.t0
            self._spans.append(s)
            self.sample_storage()

    def in_span(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call and hands the result to ``on_result``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)

    def count_calls(self, owner, attr: str, counter: str, inside: str) -> None:
        """Count calls of ``owner.attr`` made while span ``inside`` is open."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            if self.in_span(inside):
                self.counters[counter] += 1
            return orig(*args, **kwargs)

        setattr(owner, attr, counted)

    # -- cache hygiene ---------------------------------------------------
    def sample_storage(self) -> None:
        mem = sum(r.memSize() for r in self._jvm_sc.getRDDStorageInfo())
        self.storage_mb_peak = max(self.storage_mb_peak, mem / MB)

    # -- per-op reduction ------------------------------------------------
    def end_op(self) -> None:
        """Attribute the op's jobs to its spans, read their metrics, and
        append ``{"<span>.<metric>": value}`` summed over the op's spans,
        plus the op's counters, to ``ops``. Call after the op's outermost
        span closed."""
        spans, self._spans = self._spans, []
        if not spans:
            return
        lo = min(s.j0 for s in spans)
        hi = max(s.j1 for s in spans)
        self._wait_jobs(range(lo, hi))
        for j in range(lo, hi):
            owner = None
            for s in spans:  # innermost (deepest) span whose range holds j
                if s.j0 <= j < s.j1 and (owner is None or s.depth > owner.depth):
                    owner = s
            if owner is not None:
                owner.jobs.append(j)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            m = self._job_metrics(s.jobs)
            self_s = (s.t1 - s.t0) - s.child_s
            p = s.name + "."
            out[p + "self_s"] += self_s
            out[p + "calls"] += 1
            out[p + "jobs"] += len(s.jobs)
            out[p + "tasks"] += m["tasks"]
            out[p + "exec_run_s"] += m["run_s"]
            out[p + "exec_cpu_s"] += m["cpu_s"]
            out[p + "shuffle_mb"] += m["shuffle_mb"]
            out[p + "input_mb"] += m["input_mb"]
            out[p + "driver_s"] += max(0.0, self_s - m["busy_s"])
            if s.depth == 0:
                out[p + "wall_s"] += s.t1 - s.t0
        for name in {s.name for s in spans}:
            p = name + "."
            denom = out[p + "self_s"] * self.cores
            out[p + "core_util"] = out[p + "exec_run_s"] / denom if denom > 0 else 0.0
        out.update(self.counters)
        self.counters = defaultdict(float)
        self.ops.append(dict(out))

    def _wait_jobs(self, ids, timeout: float = 5.0) -> None:
        """The status listener runs asynchronously; wait until it has seen
        every job of the op finish."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        for j in ids:
            while time.monotonic() < deadline:
                info = tracker.getJobInfo(j)
                if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                    break
                time.sleep(0.01)

    def _job_metrics(self, jobs: list[int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        m = dict.fromkeys(("tasks", "run_s", "cpu_s", "shuffle_mb", "input_mb", "busy_s"), 0.0)
        intervals = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                if self._store is None:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        m["tasks"] += st.numTasks
                        self.failed_tasks += st.numFailedTasks
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JError:  # py4j: stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["tasks"] += sd.numTasks()
                m["run_s"] += sd.executorRunTime() / 1e3
                m["cpu_s"] += sd.executorCpuTime() / 1e9
                m["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                m["input_mb"] += sd.inputBytes() / MB
                self.failed_tasks += sd.numFailedTasks()
            if self._store is not None:
                try:
                    jd = self._store.job(j)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                except Py4JError:  # py4j: job evicted from the store
                    pass
        m["busy_s"] = _union_length(intervals)
        return m


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
