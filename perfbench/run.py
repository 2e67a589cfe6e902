"""Ingest benchmark for puddin_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from --seed (same seed,
same bytes); the program sees only the generated parquet files. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (tracing off); --trace 1 runs the
workload's traced pass and reports the per-layer metrics, and writes every
span to .perfbench/trace-<workload>-<seed>.json. See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest_bulk", "ingest_incremental")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


SESSION_REBUILDS = 4


def start_session(master: str):
    """Session set-up: the first launches the JVM, then SESSION_REBUILDS
    times the session is stopped and built again on the same JVM. Each
    ends with a first job, so the session is usable. Returns the live
    session, the cold start and the median rebuild: the cold start swings
    with the host's load far more than the rebuilds do."""
    from puddin_spark.session import get_spark

    times = []
    spark = None
    for _ in range(1 + SESSION_REBUILDS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(master=master, app_name="perfbench")
        spark.range(1).count()
        times.append(time.perf_counter() - t)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times[0], statistics.median(times[1:])


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def spec_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's end_to_end or per_layer metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def traced_metrics(run, workload: str, tracers: list, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced run (layers.py, plus the store-side
    counts: flips per gate and sidecar, hot LSH buckets)."""
    from perfbench import layers, workloads

    fn = workloads.bulk_traced if workload == "ingest_bulk" else workloads.incremental_traced
    extra = fn(run, *tracers)
    store, sample = extra.pop("store"), extra.pop("rules_sample")
    srp_store = extra.pop("srp_store", store)
    spark = run.spark
    metrics = layers.from_spans([s for s in tracers[1].spans if s.parent == "traced"], cores)
    metrics.update(layers.body_cost_probe(sample[:400]))
    flips = workloads.label_totals(spark, store)
    srp_flips = workloads.label_totals(spark, srp_store)
    metrics["gates.gopher_flips"] = flips.get("gopher", 0)
    metrics["gates.c4_flips"] = flips.get("c4", 0)
    metrics["sidecar.near_dup_flips"] = flips.get("near_dup", 0)
    metrics["sidecar.emb_near_dup_flips"] = srp_flips.get("emb_near_dup", 0)
    metrics["sidecar.minhash_hot_bucket"] = workloads.hot_bucket(spark, store, "minhash_bands")
    metrics["sidecar.srp_hot_bucket"] = workloads.hot_bucket(spark, srp_store, "srp_bands")
    # layers a workload bypasses read 0
    for k in ("gates.batch_s", "sidecar.minhash_batch_s", "sidecar.srp_batch_s"):
        metrics[k] = extra.pop(k, 0.0)
    metrics.update(extra)
    metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    metrics["checks.verdict_mismatches"] = run.mismatches
    metrics["checks.failed_op_ratio"] = run.failed / max(run.attempted, 1)
    return metrics


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    try:
        import puddin_spark  # noqa: F401
        from perfbench import gen
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    golden_path = ROOT / "tests" / "fixtures" / "golden.json"
    if not golden_path.exists():
        print(f"perfbench: missing {golden_path.relative_to(ROOT)}", file=sys.stderr)
        return 2

    from perfbench import workloads
    from perfbench.trace import Tracer

    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    cores = host_cores()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    root = ROOT / ".perfbench"
    work = root / f"run-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)

    spark, cold_start, setup_s = start_session(f"local[{cores}]")
    tracers = [Tracer(spark, enabled=False)]
    run = workloads.Run(
        spark=spark, work=work, seed=args.seed, seconds=args.seconds,
        tracer=tracers[0], golden=gen.load_golden(ROOT),
    )
    metrics: dict[str, float] = {}
    units: dict[str, str] = {}
    try:
        if args.trace == 0:
            timed = workloads.bulk_timed if args.workload == "ingest_bulk" else workloads.incremental_timed
            metrics.update(timed(run), setup_s=setup_s)
            units = spec_units("end_to_end")
        else:
            tracers.append(Tracer(spark, enabled=True))
            metrics.update(traced_metrics(run, args.workload, tracers, cores))
            metrics["session.start_s"] = cold_start
            (root / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(
                {"workload": args.workload, "seed": args.seed, "cores": cores, "metrics": metrics,
                 "spans": [s.summary() for t in tracers for s in t.spans]},
                indent=1,
            ))
            units = spec_units("per_layer")
    except workloads.OpFailed:
        pass  # counted in run.failed; the notes below say which call
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    calls = " ".join(f"{s.name}={s.wall:.2f}" for t in tracers for s in t.spans)
    print(f"perfbench: calls {calls}", file=sys.stderr)
    print(f"perfbench: session cold start {cold_start:.2f} s, run total {time.perf_counter() - t_start:.2f} s", file=sys.stderr)
    for note in run.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    ok = run.failed == 0 and run.mismatches == 0 and bool(units) and set(units) <= set(metrics)
    result = {
        "correct": ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
