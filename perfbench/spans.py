"""Spans around the benchmark's calls into the engine, with the Spark
counters of the jobs each span ran.

A span is (name, start, end, parent span, run id). While a span is
open its Spark job group is set, so every job the call submits is
tagged with it; when the span closes the group's jobs and stages are
read back through ``sparkContext.statusTracker()`` and the status
store's ``lastStageAttempt(id)``. Spans stay in memory and are written
out once, when the run ends.

A disabled tracer times nothing and sets no job group: the untraced
run measures the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cores = spark.sparkContext.defaultParallelism

    @contextmanager
    def span(self, name: str, on: bool = True):
        """Open a span around one call; yields the Span, or None when
        tracing is off (or ``on`` is False for this call). Its counters
        are filled in after it closes."""
        if not (self.enabled and on):
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.run_id,
                  parent.span_id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc._jsc.clearJobGroup()
            sp.counters = self._counters(sp)

    def _group(self, sp: Span) -> str:
        return f"{self.run_id}/{sp.span_id}"

    def _counters(self, sp: Span) -> dict[str, float]:
        """Stage totals of the span's own job group (child spans run
        under their own groups, so these are self counts)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job/stage end events reach the status store asynchronously
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(self._group(sp)))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        c = dict.fromkeys(
            ("tasks", "task_s", "task_cpu_s", "gc_s", "input_mb",
             "shuffle_mb", "spill_mb", "failed_tasks"), 0.0)
        busy: list[tuple[float, float]] = []
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["tasks"] += sd.numTasks()
            c["task_s"] += sd.executorRunTime() / 1e3
            c["task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["input_mb"] += sd.inputBytes() / MB
            c["shuffle_mb"] += sd.shuffleWriteBytes() / MB
            c["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / MB
            c["failed_tasks"] += sd.numFailedTasks()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        c["jobs"] = float(len(jobs))
        c["driver_gap_s"] = sp.wall - _covered(busy, sp.start, sp.end)
        c["busy_frac"] = c["task_s"] / (sp.wall * self._cores) if sp.wall > 0 else 0.0
        return c

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_summary(spans: list[Span], cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics: counters per traced span,
    averaged over ``spans``; busy_frac over their summed wall time."""
    n = max(len(spans), 1)
    tot = {k: sum(sp.counters.get(k, 0.0) for sp in spans)
           for k in ("jobs", "tasks", "task_s", "task_cpu_s", "gc_s",
                     "shuffle_mb", "spill_mb", "failed_tasks", "driver_gap_s")}
    wall = sum(sp.wall for sp in spans)
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.task_cpu_s": tot["task_cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.shuffle_mb": tot["shuffle_mb"] / n,
        "spark.spill_mb": tot["spill_mb"] / n,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.busy_frac": tot["task_s"] / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_gap_s": tot["driver_gap_s"] / n,
    }
