"""Spans around the benchmark's calls into each engine layer.

A span records its name, start, end, parent and the Spark job group it
sets while open; after a pass, :meth:`Tracer.rollup` adds the stage
metrics of that group's jobs to the span. Spans stay in memory. A
disabled tracer records nothing and sets no job group, so the untraced
run pays nothing for it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_KEYS = (
    "tasks", "stages", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb",
)


@dataclass
class Span:
    name: str
    unit: int
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    stage: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.unit = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"bench-span-{idx}"
        self.spans.append(Span(name, self.unit, time.perf_counter(), parent, group))
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def rollup(self) -> None:
        """Attach the stage metrics of each span's job group to the span."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            if s.stage:
                continue
            acc = dict.fromkeys(STAGE_KEYS, 0.0)
            for job in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    try:
                        d = store.lastStageAttempt(sid)
                    except Exception:  # a skipped stage never ran: no data
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += d.numCompleteTasks()
                    acc["executor_run_s"] += d.executorRunTime() / 1e3
                    acc["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    acc["gc_s"] += d.jvmGcTime() / 1e3
                    acc["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
                    acc["shuffle_read_mb"] += d.shuffleReadBytes() / 2**20
            s.stage = acc

    def by_unit(self) -> dict[int, dict[str, float]]:
        """Per unit: self time summed by span name."""
        out: dict[int, dict[str, float]] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            d = out.setdefault(s.unit, {})
            d[s.name] = d.get(s.name, 0.0) + t
        return out

    def stage_by_unit(self) -> dict[int, dict[str, float]]:
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.unit, dict.fromkeys(STAGE_KEYS, 0.0))
            for k in STAGE_KEYS:
                d[k] += s.stage.get(k, 0.0)
        return out
