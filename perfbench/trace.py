"""Spans recorded around calls into the program, and Spark stage
metrics read from the driver UI's REST API (traced runs only).

A span is (name, start, end, parent, run_id), kept in memory and
printed once the run ends. Spans live in the benchmark: they wrap
calls into each layer's public functions from outside, so the program
carries no tracing code.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@contextmanager
def no_span(name: str):
    yield None


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter() - self.t0, 0.0,
                  parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (
                    sp.end - sp.start
                )
        out: dict[str, float] = {}
        for sp in self.spans:
            own = sp.end - sp.start - child_time.get(sp.id, 0.0)
            out[sp.name] = out.get(sp.name, 0.0) + own
        return out


def span_cost(n: int = 20_000) -> float:
    """Seconds one ``Tracer.span`` adds over ``no_span``: the only code
    a traced iteration runs that an untraced one does not, timed apart
    from the iteration so that run-to-run noise cannot swamp it."""
    tracer = Tracer("span_cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("x"):
            pass
    t1 = time.perf_counter()
    for _ in range(n):
        with no_span("x"):
            pass
    t2 = time.perf_counter()
    return ((t1 - t0) - (t2 - t1)) / n


class StageMetrics:
    """Per job group totals from ``/api/v1`` of the Spark UI."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl
        if not self.base:
            raise RuntimeError("traced runs need spark.ui.enabled=true")
        self.app = self._get("/applications")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1{path}", timeout=30) as r:
            return json.load(r)

    def stages(self, group: str) -> list[dict]:
        """Completed stages of the jobs tagged with job group ``group``."""
        jobs = self._get(f"/applications/{self.app}/jobs")
        ids = {
            sid
            for j in jobs
            if j.get("jobGroup") == group
            for sid in j.get("stageIds", [])
        }
        return [
            s
            for s in self._get(f"/applications/{self.app}/stages?status=complete")
            if s["stageId"] in ids
        ]

    def task_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task duration in ms of one stage attempt."""
        q = self._get(
            f"/applications/{self.app}/stages/{stage['stageId']}/"
            f"{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = q["duration"]
        return med, top
