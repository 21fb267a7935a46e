"""In-memory spans for the traced benchmark run.

A span wraps one call into a layer of the program, from the benchmark's
own code.  Each span sets its own Spark job group, so the jobs (and
their tasks) a layer launched are read back from the status tracker.
Spans are kept in memory and written to a side file when the run ends.

A layer's self time is its span's duration minus the time its child
spans cover; the root span of an operation has the driver-side gap as
its self time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self, spans) -> float:
        return self.dur - sum(spans[c].dur for c in self.children)


class Tracer:
    """Collects spans of one run; ``span(name)`` is a context manager."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self.counts: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        s = Span(len(self.spans), name, parent, self._op, 0.0)
        s.group = f"perfbench-{s.op}-{s.sid}"
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                self.sc.setJobGroup(up.group, up.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(s)

    @contextmanager
    def wrap(self, module, attr: str, name: str):
        """While active, every call of ``module.attr`` (a public function
        another module imported by name) runs inside a span ``name``."""
        fn = getattr(module, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def _count_jobs(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(s.group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.tasks += stage.numTasks

    def count(self, name: str, value: float) -> None:
        """A count taken at a layer boundary (one value per operation)."""
        self.counts[name].append(float(value))

    def layer_self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer name under one root span (nested spans of
        the same name add up)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.subtree(root):
            if s is not root:
                out[s.name] += s.self_time(self.spans)
        return dict(out)

    def subtree(self, root: Span):
        todo = [root.sid]
        while todo:
            s = self.spans[todo.pop()]
            yield s
            todo.extend(s.children)

    def write(self, path: str, extra: dict) -> None:
        rec = {
            "spans": [
                {
                    "id": s.sid,
                    "name": s.name,
                    "parent": s.parent,
                    "op": s.op,
                    "start_s": s.start,
                    "dur_s": s.dur,
                    "self_s": s.self_time(self.spans),
                    "jobs": s.jobs,
                    "tasks": s.tasks,
                }
                for s in self.spans
            ],
            "counts": self.counts,
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1)
