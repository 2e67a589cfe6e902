"""Engine-metric reader: Spark's own status stores, read in-process.

Two sources, both populated with `spark.ui.enabled=false`:

- the app status store (`sc._jsc.sc().statusStore()`): per-job stage ids
  and per-stage executor run time, input / shuffle / spill bytes, task
  counts;
- the SQL status store (`sharedState().statusStore()`): per-execution plan
  graph (every node of the final adaptive plan, query stages included)
  with each operator's SQL metric values, e.g. `ArrowEvalPython`'s Python
  time and bytes sent, `BroadcastExchange`'s data size, `Exchange`'s
  shuffle bytes.

A span's jobs are the ones that carry the Spark job group the span set;
its SQL executions are the ones whose ids it allocated. Nothing here
touches the program under test.
"""
from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float | None:
    """A formatted SQL metric value -> number (bytes, seconds or a count).

    Spark renders a metric either as a bare total ('10,000', '7.4 KiB',
    '1.3 s') or, for per-task metrics, as
    'total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)'."""
    if text is None:
        return None
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM_UNIT.match(text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


_MAX_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)\)")


def metric_stage(text: str | None) -> int | None:
    """Stage id named in a per-task metric's max annotation, if any."""
    if not text:
        return None
    m = _MAX_STAGE.search(text)
    return int(m.group(1)) if m else None


@dataclass
class Node:
    """One physical operator of an executed plan, with its metric values."""

    name: str
    desc: str
    metrics: dict[str, str]
    children: list["Node"] = field(default_factory=list)

    def value(self, metric: str) -> float:
        return parse_metric(self.metrics.get(metric)) or 0.0

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class Execution:
    execution_id: int
    wall_s: float
    description: str
    nodes: list[Node]

    def write_path(self) -> str | None:
        """Output path of a file write, from its command node."""
        for n in self.nodes:
            if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                return n.desc.split(" ")[2].rstrip(",")
        return None


@dataclass
class StageStats:
    stage_id: int
    num_tasks: int
    executor_run_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


class EngineReader:
    """Reads what the engine recorded for a span: its job group's jobs and
    stages, and the SQL executions in its id range."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        jackson = sc._jvm.com.fasterxml.jackson
        self._json = jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the span's finished jobs and stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[StageStats]:
        store = self._jsc.statusStore()
        seen: dict[int, StageStats] = {}
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the store's retention window
                continue
            for sid in self._seq(job.stageIds()):
                if sid in seen:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never ran, no attempt
                    continue
                d = json.loads(self._json.writeValueAsString(st))
                if d["status"] != "COMPLETE":
                    continue
                seen[sid] = StageStats(
                    stage_id=sid,
                    num_tasks=d["numTasks"],
                    executor_run_s=d["executorRunTime"] / 1e3,
                    shuffle_read_bytes=d["shuffleReadBytes"],
                    shuffle_write_bytes=d["shuffleWriteBytes"],
                    spill_bytes=d["memoryBytesSpilled"] + d["diskBytesSpilled"],
                )
        return list(seen.values())

    def executions(self, after_id: int, upto_id: int) -> list[Execution]:
        """SQL executions with after_id < id <= upto_id: spans run one at a
        time on the calling thread, so the ids a span's calls allocated are
        exactly the range between its start and end. Plan graphs and metric
        values cross py4j as one JSON string each."""
        store = self._sql_store()
        out = []
        for eid in range(after_id + 1, upto_id + 1):
            found = store.execution(eid)
            if not found.isDefined() or not found.get().completionTime().isDefined():
                continue
            e = found.get()
            wall = (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
            values = json.loads(self._json.writeValueAsString(store.executionMetrics(eid)))
            graph = json.loads(self._json.writeValueAsString(store.planGraph(eid)))
            nodes: dict[int, Node] = {}
            stack = list(graph["nodes"])
            while stack:
                n = stack.pop()
                stack.extend(n.get("nodes", []))  # codegen clusters nest their nodes
                ms = {m["name"]: values[str(m["accumulatorId"])]
                      for m in n["metrics"] if str(m["accumulatorId"]) in values}
                nodes[n["id"]] = Node(n["name"], n["desc"], ms)
            for edge in graph["edges"]:
                child, parent = nodes.get(edge["fromId"]), nodes.get(edge["toId"])
                if child is not None and parent is not None:
                    parent.children.append(child)
            out.append(Execution(eid, wall, e.description(), list(nodes.values())))
        return out

    def last_execution_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return self._seq(store.executionsList(n - 1, 1))[0].executionId()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()
