"""Spans around calls into the engine, with Spark job/stage/task counts.

A span records name, start, end, parent and request id. When tracing is on,
each span runs under a Spark job group of its own (``SparkContext.
setJobGroup``), and on exit the span reads, through the public
``StatusTracker``, the jobs that group ran, their stages and the stages'
task counts. The time a span spends on that bookkeeping, outside its own
start and end, is kept as its ``cost``. Spans live in memory and are
written out once, when the run ends. When tracing is off, ``span``
returns a shared no-op context, so the untraced run pays one attribute
check per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


def untraced(name: str, request=None, **attrs):
    """Drop-in for ``Tracer.span`` where a call is deliberately not traced."""
    return _NULL


class Span:
    __slots__ = ("name", "id", "parent", "request", "start", "end", "counts", "attrs", "cost")

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "id": self.id,
            "parent": self.parent,
            "request": self.request,
            "start_ms": round(self.start * 1e3, 3),
            "end_ms": round(self.end * 1e3, 3),
            "counts": self.counts,
            "cost_ms": round(self.cost * 1e3, 3),
            **({"attrs": self.attrs} if self.attrs else {}),
        }

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def span(self, name: str, request=None, **attrs):
        if not self.enabled:
            return _NULL
        return self._span(name, request, attrs)

    @contextlib.contextmanager
    def _span(self, name, request, attrs):
        s = Span()
        s.name, s.id, s.request, s.attrs = name, next(self._ids), request, attrs
        s.parent = self._stack[-1].id if self._stack else None
        if request is None and self._stack:
            s.request = self._stack[-1].request
        group = f"perfbench-span-{s.id}"
        c0 = time.perf_counter()
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        self._stack.append(s)
        s.start = time.perf_counter() - self.t0
        s.cost = s.start + self.t0 - c0
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-span-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.counts = self.group_counts(group)
            s.cost += time.perf_counter() - self.t0 - s.end
            self.spans.append(s)

    def add(self, name: str, start_epoch_ms: float, end_epoch_ms: float,
            request=None, counts=None, **attrs) -> None:
        """Record a span observed elsewhere (e.g. a micro-batch, from its
        progress report), with epoch-ms bounds."""
        if not self.enabled:
            return
        s = Span()
        s.name, s.id, s.request, s.attrs = name, next(self._ids), request, attrs
        s.parent = self._stack[-1].id if self._stack else None
        s.start = start_epoch_ms / 1e3 - self.epoch0
        s.end = end_epoch_ms / 1e3 - self.epoch0
        s.counts = counts or {}
        s.cost = 0.0
        self.spans.append(s)

    def group_counts(self, group) -> dict:
        return job_counts(self.sc, self.sc.statusTracker().getJobIdsForGroup(group))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def job_counts(sc, job_ids) -> dict:
    """Jobs, distinct stages and their task counts for ``job_ids``, from the
    public StatusTracker (skipped stages are listed but ran no tasks)."""
    tracker = sc.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for st in stages:
        info = tracker.getStageInfo(st)
        if info is not None:
            tasks += info.numCompletedTasks
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}
