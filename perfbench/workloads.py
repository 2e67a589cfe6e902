"""The two workloads. Both drive the program only through its public entry
points and end in the same product chain: resume rerun, CoNLL-U render of
the committed store, and completeness validation.

- ingest_bulk: fresh ingests of a 6k-page shard (default flags), each
  into a new store. Loads the scan, the exact-dedup decision (~6%
  duplicates) and the scrub/classify UDF.
- ingest_incremental: small disjoint batches into one growing store with
  the gopher and C4 gates and the minhash near-dup sidecar on. Loads
  snapshot commits, reconcile gates and the sidecar; the UDF is minor.
"""
from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

import puddin_spark
from puddin_spark.pipeline import sentence_table
from puddin_spark.sinks import validate_conllu_output, write_conllu
from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
from puddin_spark.validation import validate_run

from perfbench import checks
from perfbench.gen import FIXTURE_PREFIX, Input, make_input
from perfbench.trace import Tracer

PROGRAM = Path(puddin_spark.__file__).parent
NUM_PARTITIONS = 4  # run_resumable_pipeline's lineage partitions
BULK_ROWS = 6_000
WARM_ROWS = 300
BATCH_ROWS = 200
# work per timed run is fixed by --seconds (not by a clock), so every run
# of a workload does the same calls and sits at the same point of the
# JVM's warm-up curve; the divisors are the reference host's call walls
BULK_OP_S = 6.0  # one ingest + rerun of a BULK_ROWS shard
BATCH_S = 15.0  # one incremental batch
SAMPLE = 200  # committed verdicts recomputed in-process per run
# the timed incremental flags; the SRP sidecar (embedding_near_dedup) runs
# only in the traced run's variant, see incremental_traced
INCREMENTAL = dict(gopher=True, c4=True, near_dedup=True)
GATES = dict(gopher=True, c4=True)
SRP = dict(gopher=True, c4=True, embedding_near_dedup=True)
GATE_LABELS = frozenset({"gopher", "c4", "near_dup", "emb_near_dup"})


class OpFailed(Exception):
    """A program call raised or returned a wrong result."""


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: Tracer
    golden: list
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    walls: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    _n: int = 0

    def path(self, stem: str) -> Path:
        self._n += 1
        return self.work / f"{stem}-{self._n}"

    def record(self, key: str, wall: float) -> None:
        self.walls.setdefault(key, []).append(wall)

    def call(self, name: str, fn, *, parent=None, record: str | None = None, **attrs):
        """One program call, inside a span; counts attempts and failures."""
        self.attempted += 1
        try:
            with self.tracer.span(name, parent, **attrs) as sp:
                out = fn()
        except OpFailed as e:
            self.failed += 1
            self.notes.append(f"{name}: {e}")
            raise
        except Exception as e:
            # the run's boundary: record the traceback, count the call as
            # failed and stop the workload; main() still prints a result
            self.failed += 1
            self.notes.append(f"{name}: {traceback.format_exc()}")
            raise OpFailed(name) from e
        if record:
            self.record(record, sp.wall)
        return out, sp

    def mismatch(self, what: str, n: int) -> None:
        if n:
            self.mismatches += n
            self.notes.append(f"{what}: {n} mismatches")

    # --- program calls -------------------------------------------------

    def _pipeline(self, inp: Input, store: SnapshotStore, flags: dict):
        pages = self.spark.read.parquet(inp.path)
        return run_resumable_pipeline(
            self.spark, pages, store, num_partitions=NUM_PARTITIONS, **flags
        )

    def ingest(self, inp: Input, store: SnapshotStore, *, record=None, parent=None, **flags):
        def go():
            snap, n = self._pipeline(inp, store, flags)
            if n <= 0:
                raise OpFailed(f"ingest committed nothing ({snap}, {n})")

        return self.call("ingest", go, parent=parent, record=record, rows=inp.n_rows, path=inp.path)[1]

    def rerun(self, inp: Input, store: SnapshotStore, *, record=None, parent=None, **flags):
        def go():
            out = self._pipeline(inp, store, flags)
            if tuple(out) != (-1, 0):
                raise OpFailed(f"resume rerun returned {out}, want (-1, 0)")

        return self.call("rerun", go, parent=parent, record=record)[1]

    def render(self, store: SnapshotStore, *, record=None, parent=None) -> str:
        out_dir = str(self.path("conllu"))
        self.call(
            "render",
            lambda: write_conllu(sentence_table(store.read(self.spark)), out_dir),
            parent=parent,
            record=record,
        )
        return out_dir

    def validate(self, inputs: list[Input], store: SnapshotStore, *, record=None, parent=None):
        """validate_run over the store. The near-dup sidecars flip a page to
        keep=false without nulling its clean_text, which validate_run's
        text_state invariant reports; those rows are passed as the
        program's own known_fail triage list and counted, so any other
        violation still fails the call."""
        def go():
            pages = self.spark.read.parquet(*[i.path for i in inputs])
            verdicts = store.read(self.spark)
            known = verdicts.filter(
                "excl_type in ('near_dup', 'emb_near_dup') and clean_text is not null"
            ).select("url", F.lit("text_state").alias("violation"))
            summary, _ = validate_run(pages, verdicts, digest_aware=True, known_fail=known)
            if not summary["ok"] or summary["n_violations"]:
                raise OpFailed(f"validate_run found violations: {summary['by_type']}")
            return summary["n_known_fail"]

        known = self.call("validate", go, parent=parent, record=record)[0]
        if known:
            self.notes.append(
                f"known defect: {known} sidecar-flipped rows keep clean_text "
                "(validate_run text_state, triaged via known_fail)"
            )

    # --- checks (untimed) ----------------------------------------------

    def check_store(self, store: SnapshotStore, inputs: list[Input], expected: int, **gates) -> dict:
        """Committed count, golden fixtures and a recomputed sample, from
        one collect of the store."""
        rows = store.read(self.spark).select("doc_id", "url", "keep", "excl_type", "clean_text").collect()
        self.mismatch(f"committed {len(rows)}, generator expects {expected}", abs(len(rows) - expected))
        # the rows write_conllu renders: Spark's trim strips spaces only
        kept = sum(1 for r in rows if r.keep and r.clean_text and r.clean_text.strip(" "))
        fx = {r.url: (r.keep, r.excl_type, r.clean_text) for r in rows if r.url.startswith(FIXTURE_PREFIX)}
        self.mismatch("golden fixtures", checks.golden_mismatches(fx, self.golden, **gates))
        text_by_url = {}
        for i in inputs:
            text_by_url.update(i.text_by_url)
        sample = [tuple(r)[1:] for r in sorted(rows, key=lambda r: r.doc_id)[:SAMPLE]]
        self.mismatch("recomputed sample", checks.sample_mismatches(sample, text_by_url, **gates))
        return {"committed": len(rows), "kept_nonempty": kept}

    def check_conllu(self, out_dir: str, kept: int) -> None:
        bad = validate_conllu_output(self.spark, out_dir).count()
        self.mismatch("validate_conllu_output", bad)
        self.mismatch("conllu doc count vs kept", abs(checks.conllu_doc_count(out_dir) - kept))


def flips_by_batch(spark, store: SnapshotStore) -> dict[int, dict[str, int]]:
    """Per-snapshot label counts from the committed lineage (no recompute)."""
    lin = store.read_lineage(spark)
    rows = (
        lin.select("snapshot_id", F.explode("rule_hit_counts").alias("label", "n"))
        .groupBy("snapshot_id", "label")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    out: dict[int, dict[str, int]] = {}
    for r in rows:
        out.setdefault(int(r.snapshot_id), {})[r.label] = int(r.n)
    return out


def label_totals(spark, store: SnapshotStore) -> dict[str, int]:
    out: dict[str, int] = {}
    for batch in flips_by_batch(spark, store).values():
        for label, n in batch.items():
            out[label] = out.get(label, 0) + n
    return out


def hot_bucket(spark, store: SnapshotStore, sidecar: str) -> int:
    """Largest (band, bucket) occupancy a sidecar's band table recorded."""
    base = store.base / sidecar
    lin = SnapshotStore(base).read_lineage(spark) if base.exists() else None
    if lin is None:
        return 0
    row = lin.agg(F.max("n_total")).first()
    return int(row[0] or 0)


def program_digest() -> str:
    """Hash of the program's sources: a flip record holds for one version
    of the program only."""
    h = hashlib.sha256()
    for f in sorted(PROGRAM.rglob("*.py")):
        h.update(str(f.relative_to(PROGRAM)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def check_flip_record(run: Run, flips: dict, workload: str) -> None:
    """Near-dup flips must repeat exactly for a seed: compare with the
    record an earlier run of the same seed and the same program sources
    left in the work root."""
    rec = run.work.parent / f"flips-{workload}-{run.seed}-{program_digest()}.json"
    mine = {str(k): {l: n for l, n in v.items() if l in GATE_LABELS} for k, v in flips.items()}
    if rec.exists():
        old = json.loads(rec.read_text())
        common = set(old) & set(mine)
        run.mismatch("near-dup flips vs earlier run of this seed", sum(old[k] != mine[k] for k in common))
    else:
        rec.write_text(json.dumps(mine, sort_keys=True))


# --- ingest_bulk ------------------------------------------------------


def bulk_inputs(run: Run) -> tuple[Input, Input]:
    warm = make_input(run.path("warm"), run.seed, "warm", WARM_ROWS, n_files=4)
    main = make_input(run.path("bulk"), run.seed, "bulk", BULK_ROWS, golden=run.golden)
    return warm, main


def warm_up(run: Run, warm: Input) -> SnapshotStore:
    """Untimed: a small shard through ingest loads the JVM's classes,
    codegen and the Python workers. Most of a call's wall on a cold JVM
    is this fixed cost, not per-document work."""
    store = SnapshotStore(run.path("store"))
    run.ingest(warm, store)
    return store


def bulk_timed(run: Run) -> dict:
    warm, main = bulk_inputs(run)
    warm_up(run, warm)
    for _ in range(max(1, round(run.seconds / BULK_OP_S))):
        store = SnapshotStore(run.path("store"))
        run.ingest(main, store, record="ingest")
        run.rerun(main, store, record="rerun")
    out_dir = run.render(store, record="render")
    run.validate([main], store, record="validate")
    got = run.check_store(store, [main], main.expected_committed)
    run.check_conllu(out_dir, got["kept_nonempty"])
    walls = run.walls["ingest"]
    return {
        "ingest_docs_per_s": len(walls) * main.n_rows / sum(walls),
        "ingest_mb_per_s": len(walls) * main.text_bytes / 1e6 / sum(walls),
        "batch_wall_p50_s": statistics.median(walls),
        "resume_noop_s": statistics.median(run.walls["rerun"]),
        "conllu_docs_per_s": got["kept_nonempty"] / statistics.median(run.walls["render"]),
        "validate_s": statistics.median(run.walls["validate"]),
    }


def bulk_traced(run: Run, untraced: Tracer, traced: Tracer) -> dict:
    """After the timed run's warm-up and a rerun of it, ingest + rerun once
    untraced and once traced into fresh stores (the tracing overhead is
    the difference of the two), then the render and validate calls
    traced."""
    warm, main = bulk_inputs(run)
    # the two passes are compared, so neither may hold the first rerun
    run.rerun(warm, warm_up(run, warm))
    passes = {}
    for label, tracer in (("untraced", untraced), ("traced", traced)):
        run.tracer = tracer
        store = SnapshotStore(run.path("store"))
        t = time.perf_counter()
        run.ingest(main, store, parent=label)
        run.rerun(main, store, parent=label)
        passes[label] = time.perf_counter() - t
    out_dir = run.render(store, parent="traced")
    run.validate([main], store, parent="traced")
    got = run.check_store(store, [main], main.expected_committed)
    run.check_conllu(out_dir, got["kept_nonempty"])
    return {
        "trace.overhead_s": passes["traced"] - passes["untraced"],
        "store": store,
        "rules_sample": list(main.text_by_url.values()),
    }


# --- ingest_incremental -----------------------------------------------


def incremental_inputs(run: Run, n_batches: int) -> list[Input]:
    batches: list[Input] = []
    earlier: list[str] = []
    for b in range(n_batches):
        inp = make_input(
            run.path(f"batch{b}"), run.seed, f"inc{b}", BATCH_ROWS + (len(run.golden) if b == 0 else 0),
            golden=run.golden if b == 0 else None,
            near_from=earlier or None,
            ts_offset=b * 1_000_000, n_files=4,
        )
        earlier += inp.origins
        batches.append(inp)
    return batches


def _distinct_texts(inputs: list[Input]) -> int:
    return len({t for i in inputs for t in i.text_by_url.values()})


def incremental_timed(run: Run) -> dict:
    n_measured = max(1, round(run.seconds / BATCH_S))
    batches = incremental_inputs(run, 1 + n_measured)
    store = SnapshotStore(run.path("store"))
    # batch 0 creates the minhash sidecar and warms the JVM (untimed)
    run.ingest(batches[0], store, **INCREMENTAL)
    for b in batches[1:]:
        run.ingest(b, store, record="ingest", **INCREMENTAL)
    run.rerun(batches[-1], store, record="rerun", **INCREMENTAL)
    out_dir = run.render(store, record="render")
    run.validate(batches, store, record="validate")
    gates = dict(gate_labels=GATE_LABELS, c4=True)
    got = run.check_store(store, batches, _distinct_texts(batches), **gates)
    run.check_conllu(out_dir, got["kept_nonempty"])
    check_flip_record(run, flips_by_batch(run.spark, store), "incremental")
    walls = run.walls["ingest"]
    rows = sum(b.n_rows for b in batches[1:])
    mb = sum(b.text_bytes for b in batches[1:]) / 1e6
    return {
        "ingest_docs_per_s": rows / sum(walls),
        "ingest_mb_per_s": mb / sum(walls),
        "batch_wall_p50_s": statistics.median(walls),
        "resume_noop_s": statistics.median(run.walls["rerun"]),
        "conllu_docs_per_s": got["kept_nonempty"] / statistics.median(run.walls["render"]),
        "validate_s": statistics.median(run.walls["validate"]),
    }


def incremental_traced(run: Run, untraced: Tracer, traced: Tracer) -> dict:
    """The timed run's chain traced (batch 0 is the warm-up). Batch 1 then
    goes through the gates alone, into copies of the store as batch 0 left
    it: once to warm that path, then untraced and traced. The tracing
    overhead is the difference of the last two walls, and the minhash
    sidecar's batch cost is the timed flags' batch-1 wall minus the
    gates-only one. Last, batches 0-1 go through the gates + SRP sidecar
    into a store of their own; the SRP sidecar's batch cost is that
    batch-1 wall minus the gates-only one."""
    batches = incremental_inputs(run, 2)
    run.tracer = traced
    store = SnapshotStore(run.path("store"))
    run.ingest(batches[0], store, parent="traced", **INCREMENTAL)
    copies = {}
    for name in ("warm", "untraced", "gates"):
        copies[name] = run.path("variant")
        shutil.copytree(store.base, copies[name])
    full = run.ingest(batches[1], store, parent="traced", **INCREMENTAL).wall
    run.rerun(batches[1], store, parent="traced", **INCREMENTAL)
    out_dir = run.render(store, parent="traced")
    run.validate(batches, store, parent="traced")
    got = run.check_store(store, batches, _distinct_texts(batches), gate_labels=GATE_LABELS, c4=True)
    run.check_conllu(out_dir, got["kept_nonempty"])
    check_flip_record(run, flips_by_batch(run.spark, store), "incremental")
    walls = {}
    # the first gates-only call compiles that flag set's plans: untimed
    for name, tracer in (("warm", untraced), ("untraced", untraced), ("gates", traced)):
        run.tracer = tracer
        sp = run.ingest(batches[1], SnapshotStore(copies[name]), parent=f"variant:{name}", **GATES)
        walls[name] = sp.wall
    run.tracer = traced
    srp_store = SnapshotStore(run.path("variant"))
    run.ingest(batches[0], srp_store, parent="variant:srp", **SRP)
    srp = run.ingest(batches[1], srp_store, parent="variant:srp", **SRP).wall
    return {
        "trace.overhead_s": walls["gates"] - walls["untraced"],
        "gates.batch_s": walls["gates"],
        "sidecar.minhash_batch_s": full - walls["gates"],
        "sidecar.srp_batch_s": srp - walls["gates"],
        "store": store,
        "srp_store": srp_store,
        "rules_sample": list(batches[1].text_by_url.values()),
    }
