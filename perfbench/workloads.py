"""The three workloads and the metrics they report.

Every workload is a closed loop with one caller: an operation starts only
after the previous one has committed its output and passed its check.
Operation 0 is the cold first run; the rest are warm repeats that go on
until the run's ``--seconds`` have passed and at least ``MIN_WARM`` of
them have run. Input generation and correctness checks sit outside the
timed window of each operation.

In a traced run, operation 0 and every odd warm operation are traced and
the even warm operations run with the tracer off, so the difference of
their medians is the tracing overhead. Per-layer figures are averages
over the traced warm operations; probes that force single layers run
after the loop, untimed against the end-to-end figures.
"""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

from py4j.protocol import Py4JError

import gen
from spans import LAYER_STATS, LAYERS, median

# warm operations per run, at least. A steady snapshot costs 12-14 s, so
# incrml_snapshots takes one to keep a run near a minute.
MIN_WARM = {"rml_tables": 2, "kg_pipeline": 2, "incrml_snapshots": 1}


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    def __init__(self, name: str, spark, seed: int, seconds: float, work: str, tracer=None):
        self.name, self.spark, self.seed, self.seconds, self.work = name, spark, seed, seconds, work
        self.tracer = tracer
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def _op(self, k: int, prepare, timed, check) -> None:
        tracer = self.tracer
        traced = tracer is not None and (k == 0 or k % 2 == 1)
        self.attempted += 1
        try:
            arg = prepare(k)
            if tracer is not None:
                tracer.enabled = traced
                if traced:
                    tracer.captured = {}
            span_cm = tracer.span(f"op{k}", "op") if tracer is not None else contextlib.nullcontext()
            with span_cm as root:
                t0 = time.perf_counter()
                state = timed(arg)
                seconds = time.perf_counter() - t0
            if tracer is not None:
                tracer.enabled = False
            quads = check(state)
        except Exception:  # noqa: BLE001 — a failed operation is counted, the run goes on
            if tracer is not None:
                tracer.enabled = False
            self.failed += 1
            print(f"[{self.name}] operation {k} failed:", file=sys.stderr)
            traceback.print_exc()
            return
        self.ops.append({"k": k, "seconds": seconds, "quads": quads, "traced": traced, "span": root})

    def loop(self, prepare, timed, check) -> None:
        self._op(0, prepare, timed, check)
        deadline = time.perf_counter() + self.seconds
        # a traced run needs one traced and one untraced warm operation
        min_warm = max(MIN_WARM[self.name], 2 if self.tracer is not None else 0)
        k = 1
        while k <= min_warm or time.perf_counter() < deadline:
            self._op(k, prepare, timed, check)
            k += 1

    # -- end-to-end figures ------------------------------------------------

    def warm(self, traced: bool | None = False) -> list[dict]:
        return [o for o in self.ops if o["k"] > 0 and (traced is None or o["traced"] == traced)]

    def end_to_end(self, setup_times: list[float]) -> dict:
        first = [o["seconds"] for o in self.ops if o["k"] == 0]
        warm = self.warm(traced=None)
        secs = [o["seconds"] for o in warm]
        return {
            "setup_s": (median(setup_times), "s", len(setup_times)),
            "first_run_s": (first[0] if first else 0.0, "s", len(first)),
            "triples_per_s": (median([o["quads"] / o["seconds"] for o in warm]), "1/s", len(warm)),
            "snapshot_p50_s": (median(secs), "s", len(secs)),
        }

    def tail(self) -> tuple[float, str]:
        """The highest percentile with at least ten samples beyond it, or
        the maximum when the run has too few samples for one."""
        secs = sorted(o["seconds"] for o in self.warm(traced=None))
        if not secs:
            return 0.0, "none"
        n = len(secs)
        if n < 11:
            return secs[-1], f"max of {n} (fewer than 11 samples)"
        pct = int(100 * (n - 10) / n)
        return statistics.quantiles(secs, n=100)[pct - 1], f"p{pct} of {n}"

    # -- per-layer figures ---------------------------------------------------

    def layer_metrics(self, setup_spans: list) -> dict:
        tr = self.tracer
        rest_ok = tr.attribute_jobs()
        if not rest_ok:
            print("[trace] REST API unavailable: task/shuffle/spill left at 0", file=sys.stderr)
        roots = [o["span"] for o in self.warm(traced=True)]
        m: dict[str, float] = {}
        for layer, row in tr.layer_table(roots).items():
            if layer in LAYERS:
                m.update({f"{layer}.{k}": v for k, v in row.items()})
        # self time over every set-up; Spark work only of the last one, the
        # session the run uses (see Tracer.claim_ungrouped)
        m["get_spark.self_s"] = statistics.fmean(tr.self_time(sp) for sp in setup_spans)
        for k in LAYER_STATS[1:]:
            m[f"get_spark.{k}"] = getattr(setup_spans[-1], k)

        def per_op(names, exclude=frozenset()):
            return statistics.fmean(tr.named_total(r, names, exclude) for r in roots) if roots else 0.0

        compile_names = {"yarrrml2rml", "yarrrml_to_plan", "rml2incrml", "expand_to_incrml"}
        all_roots = [o["span"] for o in self.ops if o["traced"]]
        m["plans.parse_s"] = per_op({"parse_mapping"}, compile_names)
        # the mapping chain compiles once per run, inside operation 0: these
        # two are totals over every traced operation
        m["plans.yarrrml_s"] = sum(tr.named_total(r, {"yarrrml2rml", "yarrrml_to_plan"}) for r in all_roots)
        m["plans.incrml_s"] = sum(tr.named_total(r, {"rml2incrml", "expand_to_incrml"}) for r in all_roots)
        m["executor.plan_build_s"] = per_op({"PlanExecutor.execute"})
        m["sinks.nquads_s"] = per_op({"write_targets", "write_serialized"})
        m["sinks.triple_table_s"] = per_op({"write_triple_table"})
        m["state.commit_s"] = per_op({"StateStore.commit_all"})
        traced_secs = [o["seconds"] for o in self.warm(traced=True)]
        plain_secs = [o["seconds"] for o in self.warm(traced=False)]
        m["trace.overhead_s"] = median(traced_secs) - median(plain_secs)
        m["trace.unattributed_s"] = statistics.fmean(tr.self_time(r) for r in roots) if roots else 0.0
        m["process.peak_rss_mb"] = peak_rss_mb(self.spark)
        return m


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    with contextlib.suppress(Py4JError, OSError):
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    return py + jvm


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def part_lines(path: str) -> list[str]:
    """Every line of the text part files under ``path``."""
    lines: list[str] = []
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.startswith("part-"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    lines.extend(fh.read().splitlines())
    return lines


def force(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_layers(run: Run, plan, executor_kw: dict | None = None) -> dict:
    """Force the sources and executor layers on their own, with the
    frames the last traced operation built: the records frames
    ``records_df`` returned, the documents routed to the tree walker,
    and the plan's triples with and without dedup."""
    from rml_utils_processor_ts_spark.operators.executor import PlanExecutor

    cap = run.tracer.captured
    records = [out for _, _, out in cap.get("records_df", [])]
    walker = cap.get("_python_iterate_records", [])
    m = {
        "sources.scan_iterate_s": sum(force(df) for df in records),
        "sources.records": sum(df.count() for df in records),
        "sources.walker_docs": sum(a[0].count() for a, _, _ in walker),
        "sources.walker_s": sum(force(out) for _, _, out in walker),
    }
    kw = executor_kw or {}
    kept = PlanExecutor(run.spark, **kw).execute(plan).triples
    m["executor.project_join_dedup_s"] = force(kept) - m["sources.scan_iterate_s"]
    emitted = PlanExecutor(run.spark, dedupe=False, **kw).execute(plan).triples.count()
    m["executor.dedup_ratio"] = kept.count() / emitted if emitted else 0.0
    return m


# -- rml_tables ---------------------------------------------------------------


def rml_tables(run: Run) -> dict:
    """Batch RML over customer/order/visit tables, written as N-Quads."""
    from rml_utils_processor_ts_spark.operators.executor import PlanExecutor
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.sinks import parse_nquad_lines, write_targets

    spark = run.spark
    inp = gen.gen_tables(run.seed, os.path.join(run.work, "in"))
    sample = inp["sample"]
    prefixes = tuple(f"<{s}> " for s in sample)
    last = {}

    def prepare(k):
        return os.path.join(run.work, "out", f"op{k}")

    def timed(out):
        plan = parse_mapping(inp["mapping"], inp["bindings"])
        write_targets(PlanExecutor(spark).execute(plan), plan, out)
        last["plan"] = plan
        return out

    def check(out):
        lines = part_lines(out)
        expect(len(lines) == inp["quads"], f"quad count {len(lines)} != {inp['quads']}")
        picked = spark.createDataFrame([(ln,) for ln in lines if ln.startswith(prefixes)], "line string")
        got: dict[str, set] = {}
        for r in parse_nquad_lines(picked).collect():
            expect(r.g is None and r.o_lang is None, f"unexpected graph or language on {r}")
            got.setdefault(r.s, set()).add((r.s, r.p, r.o, r.o_termtype))
        expect(got == sample, "sampled quads differ after the N-Quads round trip")
        last["bytes"] = dir_bytes(out)
        shutil.rmtree(out)
        return len(lines)

    run.loop(prepare, timed, check)
    extra = {"dims": inp["dims"]}
    if run.tracer is not None and "plan" in last:
        extra["layers"] = probe_layers(run, last["plan"])
        extra["layers"]["sinks.bytes_per_triple"] = last["bytes"] / inp["quads"]
    return extra


# -- kg_pipeline ----------------------------------------------------------------


def kg_pipeline(run: Run) -> dict:
    """run_pipeline: extract -> map -> link -> cc canonicalize -> bucketed
    triple table."""
    from pyspark.sql import functions as F

    from rml_utils_processor_ts_spark.pipeline import run_pipeline
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.sinks.triple_table import read_triple_table

    spark = run.spark
    inp = gen.gen_pages(run.seed, os.path.join(run.work, "in"))
    alias = spark.read.parquet(inp["alias_path"])
    canon = gen.EX + "canon/"
    last = {"stage_metrics": {}}

    def prepare(k):
        return k, os.path.join(run.work, "out", f"graph{k}")

    def timed(arg):
        k, out = arg
        return k, out, run_pipeline(spark, inp["pages_path"], inp["mapping"], out, run_id=f"run{k}", alias_dict=alias)

    def check(state):
        k, out, summary = state
        expect(not summary["skipped"], "run was skipped")
        expect(summary["n_triples"] == inp["triples"], f"n_triples {summary['n_triples']} != {inp['triples']}")
        row = read_triple_table(spark, out).agg(
            F.countDistinct("s").alias("subjects"),
            F.sum(F.col("s").startswith(canon).cast("int")).alias("canon"),
        ).first()
        expect(row["subjects"] == inp["subjects"], f"subjects {row['subjects']} != {inp['subjects']}")
        expect(
            row["canon"] == inp["canonical_subject_triples"],
            f"canonical-subject triples {row['canon']} != {inp['canonical_subject_triples']}",
        )
        last["bytes"] = dir_bytes(out)
        last["stage_metrics"][k] = summary["stage_metrics"]
        shutil.rmtree(out)
        return summary["n_triples"]

    run.loop(prepare, timed, check)
    extra = {"dims": inp["dims"]}
    if run.tracer is not None:
        stage = [last["stage_metrics"][o["k"]] for o in run.warm(traced=True)]
        plan = parse_mapping(inp["mapping"], {"pages": f"pages:{inp['pages_path']}"})
        layers = probe_layers(run, plan)
        cc = run.tracer.captured.get("connected_components", [])
        layers.update(
            {
                "pipeline.verify_s": median([s.get("verify_sec", 0.0) for s in stage]),
                "pipeline.stage_triples_s": median([s.get("stage_triples_sec", 0.0) for s in stage]),
                "linking.link_canonicalize_s": median([s.get("link_canonicalize_sec", 0.0) for s in stage]),
                "cc.edges": sum(edges for edges, _ in cc),
                "cc.components": sum(comps for _, comps in cc),
                "sinks.bytes_per_triple": last["bytes"] / inp["triples"],
            }
        )
        extra["layers"] = layers
    return extra


# -- incrml_snapshots -------------------------------------------------------------


def incrml_snapshots(run: Run) -> dict:
    """YARRRML -> RML -> IncRML -> SnapshotRunner over a parquet state store;
    one publisher pushes the next dataset version only after the previous
    one's change events are written and its state is committed."""
    from rml_utils_processor_ts_spark.operators.cdc import StateStore
    from rml_utils_processor_ts_spark.plans.incrml import IncRMLConfig
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.plans.serializer import rml2incrml, yarrrml2rml
    from rml_utils_processor_ts_spark.sinks import write_targets
    from rml_utils_processor_ts_spark.streaming.snapshots import SnapshotRunner

    spark = run.spark
    versions = gen.SnapshotVersions(run.seed)
    state_root = os.path.join(run.work, "state")
    chain = {}

    def prepare(k):
        xml, truth = versions.next()
        return k, xml, truth, os.path.join(run.work, "out", f"v{k}")

    def timed(arg):
        k, xml, truth, out = arg
        if k == 0:
            rml = yarrrml2rml(gen.SNAPSHOT_YARRRML)
            chain["incrml"] = rml2incrml(rml, IncRMLConfig(state_base_path="http://example.org/state/"))
            chain["runner"] = SnapshotRunner(spark, state_root=state_root)
            chain["plan"] = chain["runner"].plans[chain["runner"].add_mapping(chain["incrml"])]
        (result,) = chain["runner"].push_snapshot(gen.SNAPSHOT_SOURCE, xml)
        write_targets(result, chain["plan"], out)
        return result, truth, out

    def check(state):
        result, truth, out = state
        got = {"Create": set(), "Update": set(), "Delete": set()}
        for r in result.triples.filter(result.triples.p.endswith("lifeCycleType")).select("s", "o").collect():
            got.setdefault(r.o.rsplit("#", 1)[-1], set()).add(r.s)
        for event, subjects in truth.items():
            expect(got.get(event) == subjects, f"{event} subjects differ: {len(got.get(event, ()))} vs {len(subjects)}")
        n = len(part_lines(out))
        chain["bytes"] = dir_bytes(out) / max(n, 1)
        shutil.rmtree(out)
        return n

    run.loop(prepare, timed, check)
    extra = {"dims": dict(gen.SNAPSHOT_DIMS)}
    if run.tracer is not None and "plan" in chain:
        tr = run.tracer
        tr.attribute_jobs()
        roots = [o["span"] for o in run.warm(traced=True)]
        # the next, never pushed version: against the committed state it
        # yields the change events a real snapshot would
        next_xml, _ = versions.next()
        plan = parse_mapping(chain["incrml"], {gen.SNAPSHOT_SOURCE: "inline:" + next_xml})
        layers = probe_layers(run, plan, {"state_store": StateStore(spark, state_root)})

        def materialize(root):
            total = 0.0
            for sp in tr.descendants(root):
                if sp.name == "SnapshotRunner.push_snapshot":
                    inner = tr.named_total(sp, {"PlanExecutor.execute", "StateStore.commit_all"})
                    total += sp.duration - inner
            return total

        def subtree(root, attr):
            return getattr(root, attr) + sum(getattr(s, attr) for s in tr.descendants(root))

        layers.update(
            {
                "incrml.materialize_s": statistics.fmean(materialize(r) for r in roots) if roots else 0.0,
                "state.bytes": dir_bytes(state_root),
                "incrml.jobs_per_snapshot": median([subtree(r, "jobs") for r in roots]),
                "incrml.stages_per_snapshot": median([subtree(r, "stages") for r in roots]),
                "sinks.bytes_per_triple": chain.get("bytes", 0.0),
            }
        )
        extra["layers"] = layers
    return extra


WORKLOADS = {"rml_tables": rml_tables, "kg_pipeline": kg_pipeline, "incrml_snapshots": incrml_snapshots}
