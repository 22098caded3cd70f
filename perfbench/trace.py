"""Span tracing around calls into the engine, read back from Spark's
in-process status store.

A :class:`Tracer` records one span per call the benchmark makes into
the program (a plan, its build and execute halves, a pipeline stage,
the streamed increment).  Entering a span tags the driver
thread with a Spark job group named after the span; leaving it reads
every job submitted since the previous read from
``SparkContext.statusStore()`` and attaches it, with its stages'
task metrics, to the innermost open span.  The benchmark is a single
closed-loop client, so every new job belongs to the span that was
open when it ran — this also catches jobs that run on other threads
(the streaming micro-batch thread carries its own job group).

Spans stay in memory; :meth:`Tracer.records` returns them at the end
of the run.  The tracer times its own bookkeeping (``overhead_s``):
every status-store read happens on the driver thread between actions,
so that time adds directly to the traced wall.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    tasks: int
    failed_tasks: int
    stages: int = 0
    run_s: float = 0.0  # summed executorRunTime
    cpu_s: float = 0.0  # summed executorCpuTime (JVM threads only)
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[Job] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float):
    """The parts of ``intervals`` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Clock:
    """Spans with wall times only: the untraced runs' timer."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._enter(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._exit(sp, parent)

    def _enter(self, sp: Span) -> None:
        pass

    def _exit(self, sp: Span, parent: Span | None) -> None:
        pass


class Tracer(Clock):
    def __init__(self, spark):
        super().__init__()
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.overhead_s = 0.0
        self._seen_stages: set[int] = set()
        self._cursor = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _enter(self, sp: Span) -> None:
        t0 = time.perf_counter()
        if sp.parent is None:
            self._new_jobs(sp.start)  # jobs run outside any span belong to none
        self.sc.setJobGroup(f"perfbench-{sp.span_id}", sp.name)
        self.overhead_s += time.perf_counter() - t0

    def _exit(self, sp: Span, parent: Span | None) -> None:
        t0 = time.perf_counter()
        sp.jobs.extend(self._new_jobs(sp.end))
        if parent:
            self.sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.overhead_s += time.perf_counter() - t0

    def _new_jobs(self, now: float) -> list[Job]:
        """Jobs submitted since the last read, newest first in the
        store (``jobsList`` is ordered by descending id)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = jd.jobId()
            if jid <= self._cursor:
                break
            out.append(self._job(jd, now))
        if out:
            self._cursor = out[0].job_id
        return out[::-1]

    def _job(self, jd, now: float) -> Job:
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else now
        end = done.get().getTime() / 1000.0 if done.isDefined() else now
        job = Job(jd.jobId(), start, end, jd.numTasks(), jd.numFailedTasks())
        ids = jd.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in self._seen_stages:
                continue  # a reused shuffle stage counts once, for its first job
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # stage skipped and never run
            if st.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            job.stages += 1
            job.run_s += st.executorRunTime() / 1e3
            job.cpu_s += st.executorCpuTime() / 1e9
            job.gc_s += st.jvmGcTime() / 1e3
            job.shuffle_write_b += st.shuffleWriteBytes()
            job.spill_b += st.diskBytesSpilled()
            job.output_b += st.outputBytes()
        return job

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids = {root.span_id}
        out = [root]
        for sp in self.spans[root.span_id + 1:]:
            if sp.parent in ids:
                ids.add(sp.span_id)
                out.append(sp)
        return out

    def jobs_under(self, root: Span) -> list[Job]:
        return [j for sp in self.subtree(root) for j in sp.jobs]

    def records(self) -> list[dict]:
        """Every span as a plain dict (for writing out at run end)."""
        return [
            {
                "id": sp.span_id, "name": sp.name, "parent": sp.parent,
                "start": sp.start, "end": sp.end,
                "jobs": [j.__dict__ for j in sp.jobs],
            }
            for sp in self.spans
        ]
