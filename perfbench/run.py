"""KG-construction benchmark: one workload per process.

    python3 perfbench/run.py --workload rml_tables --seed 1 --seconds 8 --trace 0

Run from the repository root. The process generates its inputs from the
seed, builds the Spark session with the engine's ``get_spark()``, runs the
workload's closed loop, checks every output, stops Spark and prints, as
its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end figures; with
``--trace 1`` the per-layer figures of a traced run (see README.md).
The lines before it record the environment and a table of every figure
with its unit and sample count. All files the run writes live under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "rml_utils_processor_ts_spark"
WORKLOAD_NAMES = ("rml_tables", "kg_pipeline", "incrml_snapshots")
# get_spark() calls per run, each in a fresh JVM; setup_s is their median
SETUPS = 3

# Driver heap sized for a 4-vCPU, 15 GB host: the engine's 16g default
# exceeds its RAM. Both sides of an A/B must use the same value.
DRIVER_MEM = "3g"

PER_LAYER_NAMED = [
    "plans.parse_s", "plans.yarrrml_s", "plans.incrml_s", "executor.plan_build_s",
    "sources.scan_iterate_s", "sources.records", "sources.walker_docs", "sources.walker_s",
    "executor.project_join_dedup_s", "executor.dedup_ratio",
    "incrml.materialize_s", "state.commit_s", "state.bytes", "incrml.jobs_per_snapshot",
    "incrml.stages_per_snapshot", "pipeline.verify_s", "pipeline.stage_triples_s",
    "linking.link_canonicalize_s", "cc.edges", "cc.components",
    "sinks.nquads_s", "sinks.triple_table_s", "sinks.bytes_per_triple",
    "process.peak_rss_mb", "trace.overhead_s", "trace.unattributed_s",
]


def unit_of(name: str) -> str:
    stat = name.rsplit(".", 1)[1]
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("bytes") or stat == "bytes_per_triple":
        return "bytes"
    if stat.endswith("_mb"):
        return "MB"
    if stat.endswith("ratio"):
        return "ratio"
    return "count"


def configure_env(work: str, trace: bool) -> dict:
    """Process hygiene, set before the JVM starts so it and the Python
    workers inherit it. Returns the settings for the result record."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        confs.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    settings = {
        # Python UDF workers import the package from any cwd
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": cpus,
        "RML_SPARK_DRIVER_MEM": DRIVER_MEM,
        # session warm-up off: see README.md, "Warm-up"
        "RML_SPARK_WARMUP": "0",
        # the UI (and its REST API) only in traced runs
        "RML_SPARK_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
    }
    os.environ.update(settings)
    return settings


def source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(ROOT, PKG)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM the gateway launched and wait
    for it. The next ``get_spark()`` launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = configure_env(work, trace)
    sys.path.insert(0, ROOT)

    import spans
    import workloads

    tracer = spans.Tracer(f"{args.workload}-seed{args.seed}-trace") if trace else None
    spark = None
    try:
        from rml_utils_processor_ts_spark import get_spark

        # each set-up launches a fresh JVM; the workload runs on the last
        setup_times, setup_spans = [], []
        for _ in range(SETUPS):
            if spark is not None:
                stop_spark(spark)
                spark = None
            with tracer.span("get_spark", "get_spark") if trace else contextlib.nullcontext() as sp:
                t0 = time.perf_counter()
                spark = get_spark("perfbench")
                setup_times.append(time.perf_counter() - t0)
            setup_spans.append(sp)
        spark.sparkContext.setLogLevel("ERROR")
        if trace:
            tracer.spark = spark
            # the earlier sessions' JVMs are gone; only the last set-up's
            # jobs can be read
            tracer.claim_ungrouped(setup_spans[-1])
            tracer.instrument()
        run = workloads.Run(args.workload, spark, args.seed, args.seconds, work, tracer)
        extra = workloads.WORKLOADS[args.workload](run)
        e2e = run.end_to_end(setup_times)
        tail, tail_note = run.tail()
        if trace:
            layers = run.layer_metrics(setup_spans)
            layers.update(extra.pop("layers", {}))
            tracer.uninstrument()
            os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".bench_work", "traces", f"{tracer.run_id}.json"))
        env = {
            "git_sha": git_sha(),
            "source_sha256": source_digest(),
            "nproc": os.cpu_count(),
            "cpus_used": settings["SPARK_GRAFT_CPUS"],
            "mem_total_kb": mem_total_kb(),
            "spark": spark.version,
            "python": platform.python_version(),
            "settings": settings,
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "workload_dims": extra.get("dims"),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = run.attempted, run.failed
    print("env " + json.dumps(env, sort_keys=True))
    print(f"{'metric':<34} {'value':>14} {'unit':<6} n")
    for name, (value, unit, n) in e2e.items():
        print(f"{name:<34} {value:>14.4f} {unit:<6} {n}")
    print(f"{'snapshot_tail_s':<34} {tail:>14.4f} {'s':<6} {tail_note}")
    print(f"{'error_rate':<34} {failed / max(attempted, 1):>14.4f} {'ratio':<6} {failed}/{attempted}")
    if trace:
        names = PER_LAYER_NAMED + [f"{layer}.{stat}" for layer in spans.LAYERS for stat in spans.LAYER_STATS]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": unit_of(n)} for n in names}
        for n, v in metrics.items():
            print(f"{n:<34} {v['value']:>14.4f} {v['unit']}")
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u, _) in e2e.items()}
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
