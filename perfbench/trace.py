"""Spans around the calls into each layer, from outside the program.

The tracer replaces public functions at their module attributes (and
in every package module that imported them by name) with wrappers that
record a span -- name, layer, start, end, parent, op id -- and set a
Spark job group named after the span, so every job and stage the call
launches is attributed to the innermost span. Spans stay in memory and
are written out when the run ends. Stage metrics come from the Spark
UI's REST API, which the traced run enables.

Wrappers only record while an op is open (``Tracer.op``): set-up and
output checks call the same functions without leaving spans.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "lakehouse_architecture_transaction_spark"
GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover (overlapping children counted
    once, children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Span recorder plus the set of installed wrappers."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._next = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._op_root: int | None = None  # parent for spans opened on other threads
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span and route its Spark jobs to it. A no-op
        unless an op is open."""
        if self._op is None:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            parent = stack[-1] if stack else self._op_root
            span = Span(sid, name, layer, 0.0, parent, self._op)
            self.spans.append(span)
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)

    @contextmanager
    def op(self, op_id: int, name: str):
        """Open an op: the root span every wrapped call nests under."""
        self._op = op_id
        try:
            with self.span(name, "op") as root:
                self._op_root = root.id
                yield root
        finally:
            self._op = None
            self._op_root = None

    def wrap(self, owner, attr: str, layer: str, on_enter=None, on_exit=None) -> None:
        """Replace ``owner.attr`` (and every package module's by-name
        import of the same function) with a span-recording wrapper.
        ``on_enter(span, args)`` and ``on_exit(span, args, result)``
        add span attributes around the call."""
        original = getattr(owner, attr)
        label = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(label, layer) as sp:
                if sp is not None and on_enter is not None:
                    on_enter(sp, args)
                result = original(*args, **kwargs)
                if sp is not None and on_exit is not None:
                    on_exit(sp, args, result)
                return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for name, m in list(sys.modules.items())
                if name.startswith(PACKAGE) and m is not owner and getattr(m, attr, None) is original
            ]
        for t in targets:
            self._patches.append((t, attr, original))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            t, attr, original = self._patches.pop()
            setattr(t, attr, original)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__, default=str) + "\n")


# ------------------------------------------------------- stage metrics


class StageMetrics:
    """Jobs, stages and SQL executions from the Spark UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        """All jobs, once the UI listener has caught up: no job still
        RUNNING and the job count unchanged between two polls."""
        prev, deadline = None, time.monotonic() + 10
        while True:
            jobs = self._get("/jobs")
            if (len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs)) or time.monotonic() > deadline:
                return jobs
            prev = len(jobs)
            time.sleep(0.2)

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self._get("/stages")}

    def task_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task run time of one stage attempt, in ms."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        return q["executorRunTime"][0], q["executorRunTime"][1]

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=true&length=1000000")
