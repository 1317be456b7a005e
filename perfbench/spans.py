"""In-memory span tracing for the traced benchmark run.

A span is (name, start, end, parent). Spans are opened around the
benchmark's own calls into each layer and, through shims installed only in
the traced run, around public calls made inside the engine. Nothing is
written until the run ends; a layer's self time is its span's duration
minus the time its child spans cover.

Spark work is counted per operation through one job group per call:
``statusTracker`` lists the group's jobs, and their stages give the tasks.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class NullTracer:
    """Untraced runs: spans cost one no-op context manager."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else -1)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.parent >= 0:
                self.spans[sp.parent].child_s += sp.end - sp.start

    def install(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, shim)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.self_s
        return dict(out)

    def total_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.end - sp.start
        return dict(out)


class JobCounter:
    """Spark jobs and tasks launched by one operation, via a job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, counts: dict[str, int]):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            counts["jobs"] = counts.get("jobs", 0) + len(jobs)
            counts["tasks"] = counts.get("tasks", 0) + tasks
