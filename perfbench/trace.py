"""Spans around the benchmark's calls into the pipeline, plus Spark work
counts per span.

A span records name, start, end, parent span and op id. Spans are kept in
memory and written out once, when the run ends. With tracing off a span
only takes two clock reads, so the untraced run pays nothing for it.

With tracing on, each span also records the range of Spark job ids the
scheduler handed out while it was open. Job ids are dense and global, so
jobs submitted from any thread (``write_reports`` runs a driver pool, a
stream runs its micro-batches on the stream thread) fall in the range of
the span that was open at the time. Stages and tasks of those jobs are
resolved from the status tracker after the run, when the listener bus has
caught up.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._dag = self._status = None
        self.bookkeeping_s = 0.0  # time the tracer itself spent, traced mode only

    def bind(self, spark) -> None:
        """Attach to a session; spans opened before this count no jobs."""
        if self.enabled:
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()
            self._status = spark.sparkContext._jsc.sc().statusTracker()

    def _next_job(self) -> int:
        if self._dag is None:
            return 0
        t = time.perf_counter()
        n = int(self._dag.nextJobId())
        self.bookkeeping_s += time.perf_counter() - t
        return n

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, parent.id if parent else None, op, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            s.job_lo = self._next_job()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                s.job_hi = self._next_job()
            self._stack.pop()

    def resolve(self, timeout_s: float = 30.0) -> None:
        """Fill jobs/stages/tasks per span from the status tracker."""
        if self._status is None or not self.spans:
            return
        t0 = time.perf_counter()
        per_job: dict[int, tuple[set, int]] = {}
        for j in range(min(s.job_lo for s in self.spans), max(s.job_hi for s in self.spans)):
            info = self._status.getJobInfo(j)
            deadline = time.monotonic() + timeout_s
            while info.isDefined() and info.get().status().toString() == "RUNNING" \
                    and time.monotonic() < deadline:
                time.sleep(0.05)  # listener bus still catching up
                info = self._status.getJobInfo(j)
            if not info.isDefined():
                continue
            ran, tasks = set(), 0  # stages that ran tasks; skipped ones ran none
            for sid in info.get().stageIds():
                si = self._status.getStageInfo(sid)
                if si.isDefined() and si.get().numCompletedTasks() > 0:
                    ran.add(sid)
                    tasks += si.get().numCompletedTasks()
            per_job[j] = (ran, tasks)
        for s in self.spans:
            jobs = [per_job[j] for j in range(s.job_lo, s.job_hi) if j in per_job]
            s.jobs = s.job_hi - s.job_lo
            s.stages = len(set().union(*(st for st, _ in jobs))) if jobs else 0
            s.tasks = sum(t for _, t in jobs)
        self.bookkeeping_s += time.perf_counter() - t0

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        out = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.seconds
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        selfs = self.self_seconds()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    "self_s": round(selfs[s.id], 6), "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks, **s.attrs,
                }) + "\n")
