"""Spans around calls into the engine's layers, with Spark job attribution.

Each span sets a Spark job group named after it, so the jobs (and their
tasks) that the call starts on this thread are tied to the span. CPU
seconds are the process tree's, read at the span's edges: the benchmark
runs one call at a time, so the tree's CPU during a span is the span's.
Spans stay in memory; ``resolve`` fills in jobs and tasks once the run is
over. Jobs a span's call starts on other threads carry no group and are
counted as unattributed. The tracer's own bookkeeping time inside spans
is summed, so its overhead is measured directly rather than inferred
from two noisy runs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    job_ids: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        # job ids are sequential: anything above this started while tracing
        self.first_job = max(self._ungrouped(), default=-1) + 1

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        group = f"{name}#{len(self.spans)}"
        cpu0 = procstat.cpu_s()
        self.sc.setJobGroup(group, name)
        sp = Span(name, group, time.perf_counter())
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            sp.cpu_s = procstat.cpu_s() - cpu0
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def resolve(self) -> None:
        """Fill in each span's jobs and completed tasks."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.job_ids = sorted(tracker.getJobIdsForGroup(sp.group))
            sp.jobs = len(sp.job_ids)
            sp.tasks = 0
            for jid in sp.job_ids:
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    st = tracker.getStageInfo(sid)
                    sp.tasks += st.numCompletedTasks if st else 0

    def overhead_frac(self) -> float:
        """Tracer bookkeeping time ÷ traced wall time."""
        return self.overhead_s / sum(s.wall_s for s in self.spans)

    def unattributed_jobs(self) -> int:
        return sum(1 for j in self._ungrouped() if j >= self.first_job)

    def total(self, prefix: str) -> dict:
        """Summed wall/core seconds, jobs and tasks of spans named
        ``prefix`` or ``prefix.*``."""
        sel = [s for s in self.spans
               if s.name == prefix or s.name.startswith(prefix + ".")]
        return {
            "wall_s": sum(s.wall_s for s in sel),
            "core_s": sum(s.cpu_s for s in sel),
            "jobs": sum(s.jobs for s in sel),
            "tasks": sum(s.tasks for s in sel),
        }

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "start_s": round(s.start - t0, 4),
             "wall_s": round(s.wall_s, 4), "core_s": round(s.cpu_s, 3),
             "jobs": s.jobs, "tasks": s.tasks, "job_ids": s.job_ids}
            for s in self.spans
        ]
