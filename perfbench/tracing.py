"""Spans around every call the benchmark makes into an engine layer.

Untraced runs only time each operation (the end-to-end figures).  Traced
runs additionally give every span its own Spark job group, so
`SparkContext.statusTracker()` yields the exact jobs, tasks and task
attempts launched under it, keep every span (name, start, end, parent,
request id) in memory, and write them out when the run ends.  Jobs Spark
launches on its own threads (broadcast exchanges, streaming micro-batches)
carry their own groups and are not counted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    req: "int | None"
    parent: "int | None"
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        # time spent inside the tracer's own bookkeeping (status-tracker
        # queries, plan inspection), reported beside the measured overhead
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, req: "int | None" = None):
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(self._next_id, name, req, parent.id if parent else None, 0.0)
        self._next_id += 1
        if self.enabled:
            self.sc.setJobGroup(self._group(s), name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t0 = time.perf_counter()
                self._count_jobs(s)
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(s)
                self.bookkeeping_s += time.perf_counter() - t0

    def note(self, fn):
        """`fn()` when tracing, else None; its time counts as bookkeeping
        (plan inspection)."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _count_jobs(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(self._group(s)):
            s.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                s.tasks += st.numCompletedTasks
                s.tasks_failed += st.numFailedTasks

    def subtree_counts(self, root: Span) -> tuple[int, int, int]:
        """(jobs, tasks, tasks_failed) over a span and every
        span beneath it."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = [0, 0, 0]
        todo = [root]
        while todo:
            s = todo.pop()
            out[0] += s.jobs
            out[1] += s.tasks
            out[2] += s.tasks_failed
            todo.extend(children.get(s.id, []))
        return tuple(out)

    def self_ms(self) -> dict[str, float]:
        """Per span name: total self time, its duration minus the part its
        child spans cover (children never overlap: calls are sequential)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.ms - child_ms.get(s.id, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": s.id, "name": s.name, "req": s.req, "parent": s.parent,
                "start_ms": round((s.start - t0) * 1000.0, 3),
                "end_ms": round((s.end - t0) * 1000.0, 3),
                "jobs": s.jobs, "tasks": s.tasks, "tasks_failed": s.tasks_failed,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "self_ms": self.self_ms(), "spans": rows}, f, default=str)
