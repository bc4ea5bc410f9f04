"""Spans around the calls into each layer, and the Spark counters of each
span read from outside the program.

Every span sets its own Spark job group, so the jobs a span starts are
found afterwards with ``statusTracker().getJobIdsForGroup``; their stage
metrics come from the application status store, which is kept with
``spark.ui.enabled=false`` too. The store keeps only the last 1,000 jobs
and stages, so ``Tracer.collect`` is called after every pass and the spans
it has read are never read again.

Spans are kept in memory; ``Tracer.dump`` writes them as JSON.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 2**20

# StageData getters summed per span, with their scale to the reported unit.
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / MB),
    "written_mb": ("outputBytes", 1 / MB),
    "shuffle_mb": ("shuffleWriteBytes", 1 / MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "result_mb": ("resultSize", 1 / MB),
    "tasks": ("numCompleteTasks", 1),
}


@dataclass
class Span:
    name: str
    kind: str  # workload | pass | stage | query | operator
    group: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    job_windows: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``detailed=False`` only workload and pass spans
    are opened (one job group per pass, enough for the shuffle bytes of the
    untraced runs); stage, query and operator spans are no-ops."""

    def __init__(self, sc, detailed: bool):
        self.sc = sc
        self.detailed = detailed
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._unread = 0

    def inside(self, prefix: str) -> bool:
        """True when an open span's name starts with ``prefix``."""
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    @contextmanager
    def span(self, name: str, kind: str):
        if not self.detailed and kind not in ("workload", "pass"):
            yield None
            return
        sp = Span(name, kind, f"perfbench-{next(self._ids)}",
                  self._stack[-1] if self._stack else None)
        prev = self.spans[self._stack[-1]].group if self._stack else None
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, self.spans[self._stack[-1]].name)

    def collect(self) -> None:
        """Read the Spark counters of every span closed since the last call.
        Counters are exclusive: a job belongs to the innermost span that was
        open when it started."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans[self._unread:]:
            if sp.end == 0.0:
                continue
            totals = dict.fromkeys(STAGE_FIELDS, 0.0)
            jobs = stages = 0
            for jid in tracker.getJobIdsForGroup(sp.group):
                job = store.job(jid)
                jobs += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.job_windows.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                for sid in tracker.getJobInfo(jid).stageIds:
                    stage = store.lastStageAttempt(sid)
                    if str(stage.status()) == "SKIPPED":
                        continue
                    stages += 1
                    for key, (getter, scale) in STAGE_FIELDS.items():
                        totals[key] += getattr(stage, getter)() * scale
            sp.counters = dict(totals, jobs=jobs, stages=stages)
        self._unread = len(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "kind": s.kind,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "counters": s.counters,
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


def covered_s(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(windows):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
