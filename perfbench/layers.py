"""Per-layer metrics from the traced spans, plus the in-process body-cost
probe. Each metric names a module of the program; the README lists which
end-to-end metric each one should move and on which workload.

Per-call metrics come from the last traced `ingest` span (the steady-state
call: the only one for ingest_bulk, batch 1 for ingest_incremental), the
traced `rerun` and `render` spans; engine totals from every span of the
traced pass.
"""
from __future__ import annotations

import statistics
import time

import pandas as pd

from puddin_spark import rules, udfs

from perfbench.checks import reference_verdict
from perfbench.engine import metric_stage
from perfbench.trace import Span

PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"


def _nodes(span: Span):
    for e in span.executions:
        yield from e.nodes


def _with_metrics(span: Span, name: str, needle: str = ""):
    return [n for n in _nodes(span) if n.name.startswith(name) and needle in n.desc and n.metrics]


def _dedup_broadcasts(span: Span):
    """The keep-first decision's broadcast: a BroadcastExchange whose subtree
    ranks rows with row_number()."""
    out = []
    for b in _with_metrics(span, "BroadcastExchange"):
        if any(d.name == "Window" and "row_number" in d.desc for d in b.walk()):
            out.append(b)
    return out


def _store_writes(span: Span):
    """Snapshot commits: every store stages its files under _staging/."""
    return [e for e in span.executions if "/_staging/" in (e.write_path() or "")]


def _python_tasks(span: Span, nodes) -> int:
    by_id = {s.stage_id: s.num_tasks for s in span.stages}
    ids = {metric_stage(n.metrics.get(PYTHON_TIME)) for n in nodes}
    return sum(by_id.get(i, 0) for i in ids if i is not None)


def from_spans(spans: list[Span], cores: int) -> dict[str, float]:
    ingest = [s for s in spans if s.name == "ingest"][-1]
    rerun = [s for s in spans if s.name == "rerun"][-1]
    render = [s for s in spans if s.name == "render"][-1]

    scans = [n for n in _with_metrics(ingest, "Scan parquet") if ingest.attrs["path"] in n.desc]
    dedup = _dedup_broadcasts(ingest)
    process = _with_metrics(ingest, "ArrowEvalPython", "_process_batch")
    segment = _with_metrics(render, "ArrowEvalPython", "segment_udf")
    writes = _store_writes(ingest)
    sink = [n for n in _nodes(render) if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")]

    stages = [st for s in spans for st in s.stages]
    run_s = sum(st.executor_run_s for st in stages)
    wall = sum(s.wall for s in spans)
    return {
        "scan.s": sum(n.value("scan time") for n in scans),
        "scan.input_bytes": sum(n.value("size of files read") for n in scans),
        "pipeline.dedup_s": sum(n.value("time to collect") for n in dedup),
        "pipeline.losers": max((n.value("number of output rows") for n in dedup), default=0),
        "pipeline.broadcast_bytes": sum(n.value("data size") for n in dedup),
        "pipeline.shuffle_write_bytes": sum(
            d.value("shuffle bytes written") for n in dedup for d in n.walk() if d.name == "Exchange"
        ),
        "udfs.process_python_s": sum(n.value(PYTHON_TIME) for n in process),
        "udfs.process_bytes_sent": sum(n.value(PYTHON_SENT) for n in process),
        "udfs.python_tasks": _python_tasks(ingest, process),
        "udfs.segment_python_s": sum(n.value(PYTHON_TIME) for n in segment),
        "sinks.write_conllu_s": render.wall,
        "sinks.bytes_written": sum(n.value("written output") for n in sink),
        "snapshots.commit_s": sum(e.wall_s for e in writes),
        "snapshots.files_written": sum(
            n.value("number of written files")
            for e in writes for n in e.nodes if n.name.startswith("Execute ")
        ),
        "snapshots.resume_filter_s": sum(e.wall_s for e in rerun.executions),
        "spark.jobs_per_batch": len(ingest.jobs),
        "spark.executor_run_s": run_s,
        "spark.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "spark.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "spark.spill_bytes": sum(st.spill_bytes for st in stages),
        "spark.jobs": sum(len(s.jobs) for s in spans),
        "spark.tasks": sum(st.num_tasks for st in stages),
        # executor time against what the slots could have done in the
        # spans' wall: low values mean the wall was mostly waiting
        "spark.slot_utilization": run_s / (wall * cores) if wall else 0.0,
    }


def _us_per_doc(fn, docs: list, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn(docs)
        walls.append(time.perf_counter() - t)
    return statistics.median(walls) / len(docs) * 1e6


def body_cost_probe(texts: list[str], reps: int = 3) -> dict[str, float]:
    """Python body cost of the two UDFs, without Spark, in µs per document
    of a fixed sample:

    - rules.*: the unguarded rule chain and sentence segmentation, one
      document at a time;
    - udfs.*_body: the UDF functions Spark calls, on one Arrow-sized
      pandas batch (the scrub chain with its vectorized guards).

    Set against udfs.*_python_s, which Spark measures around the same
    bodies, they split a UDF's time into body and Arrow/worker boundary."""
    cleans = [c for _, _, c in map(reference_verdict, texts) if c]
    batch, clean_batch = pd.Series(texts), pd.Series(cleans)
    return {
        "rules.chain_us_per_doc": _us_per_doc(lambda d: [reference_verdict(x) for x in d], texts, reps),
        "rules.segment_us_per_doc": _us_per_doc(lambda d: [rules.segment_sentences(c) for c in d], cleans, reps),
        "udfs.process_body_us_per_doc": _us_per_doc(lambda d: udfs.process_udf.func(batch), texts, reps),
        "udfs.segment_body_us_per_doc": _us_per_doc(lambda d: udfs.segment_udf.func(clean_batch), cleans, reps),
    }
