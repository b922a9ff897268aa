"""Spans around the benchmark's calls into each sparksonar layer.

A span records its name, start, end, its parent and the id of the
operation it belongs to, plus the Spark jobs and tasks that ran while it
was open (read from ``SparkContext.statusTracker()`` before and after
the call).  Spans stay in memory and are written out once, at the end of
a run.  Self time is a span's duration minus the union of the intervals
its children cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, sc):
        self._status = sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    def _last_job(self) -> int:
        ids = self._status.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _tasks(self, first: int, last: int) -> int:
        n = 0
        for j in range(first, last + 1):
            info = self._status.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self._status.getStageInfo(s)
                n += st.numCompletedTasks if st else 0
        return n

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        before = self._last_job()
        sp = Span(name, self.op, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            after = self._last_job()
            sp.jobs = after - before
            sp.tasks = self._tasks(before + 1, after)

    def self_ms(self, i: int) -> float:
        sp = self.spans[i]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
        covered, hi = 0.0, sp.start
        for a, b in kids:
            a = max(a, hi)
            if b > a:
                covered += b - a
                hi = b
        return sp.ms - covered * 1e3

    def table(self) -> dict[str, dict]:
        """Per span name: calls, total and self ms, jobs and tasks."""
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            row = out.setdefault(sp.name, {"calls": 0, "total_ms": 0.0,
                                           "self_ms": 0.0, "jobs": 0,
                                           "tasks": 0})
            row["calls"] += 1
            row["total_ms"] += sp.ms
            row["self_ms"] += self.self_ms(i)
            row["jobs"] += sp.jobs
            row["tasks"] += sp.tasks
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "layers": self.table(), **extra}, fh, indent=1)
