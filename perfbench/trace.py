"""Spans around the benchmark's calls into the program.

A span records its name, parent, start and end. With tracing on, each span
also sets a Spark job group of its own and, when it ends, reads from the
engine what its jobs and SQL executions did (engine.EngineReader). With
tracing off a span is two clock reads. Spans stay in memory; the caller
writes them out when the run ends.
"""
from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.engine import EngineReader, Execution, StageStats


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: list[StageStats] = field(default_factory=list)
    executions: list[Execution] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def summary(self) -> dict:
        return {
            "name": self.name,
            "parent": self.parent,
            "start": round(self.start, 6),
            "wall_s": round(self.wall, 6),
            "jobs": len(self.jobs),
            "tasks": sum(s.num_tasks for s in self.stages),
            "executor_run_s": round(sum(s.executor_run_s for s in self.stages), 3),
            "executions": [
                {"id": e.execution_id, "wall_s": round(e.wall_s, 3),
                 "description": e.description, "writes": e.write_path()}
                for e in self.executions
            ],
            **self.attrs,
        }


class Tracer:
    """Spans are flat: each wraps one call into the program, and `parent`
    names the pass it belongs to (one thread has one job group at a time,
    so spans never nest)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._reader = EngineReader(spark) if enabled else None
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        sp = Span(name, parent, 0.0, attrs=dict(attrs))
        group = f"{name}#{len(self.spans)}"
        first_exec = -1
        if self.enabled:
            first_exec = self._reader.last_execution_id()
            self._sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._sc.setJobGroup("perfbench-untraced", "outside any span")
                self._reader.drain()
                sp.jobs = self._reader.job_ids(group)
                sp.stages = self._reader.stages(sp.jobs)
                sp.executions = self._reader.executions(
                    first_exec, self._reader.last_execution_id()
                )
            self.spans.append(sp)
