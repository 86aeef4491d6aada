"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of
``rdf-connect/rml-utils-processor-ts`` (reference at /root/reference) as an
idiomatic Spark pipeline: RML mappings compile to DataFrame plans
(scan -> iterator explode -> term-map projection -> join -> dedupe -> sink),
plus web-scale stages (entity linking, canonicalization via connected
components, dedup family, ANN similarity, lineage/resume).

The reference's three processors map onto:
  * ``js:Y2R``               -> :mod:`.plans.yarrrml` (YARRRML front-end)
  * ``js:RMLMapperReader``   -> :mod:`.plans.rml_parser` + :mod:`.operators.executor`
  * ``js:IncRMLTransformer`` -> :mod:`.plans.incrml` (CDC plan rewrite)
"""

from __future__ import annotations

import os

__version__ = "0.1.0"

_DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "rml_spark", cpus: str | None = None):
    """Build (or fetch) the SparkSession with scale-appropriate defaults.

    Local mode here, but every config is the one we'd ship on a real
    cluster: AQE on (runtime re-plan / skew-join split / partition
    coalescing), UTC session timezone (oracle parity + determinism),
    Arrow enabled (every Python stage is pandas/Arrow vectorized).

    PySpark's DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
    DataFrame and Column call costs several gateway round trips to
    record its Python call site. What is lost is the "== DataFrame =="
    call-site section of an ``AnalysisException``; its class, message
    and Python traceback stay. The package builds every expression
    itself, so that section would name the engine's own code anyway.
    The setting is static: it takes effect only in the session that
    creates the SparkContext.

    Only builds the session: it starts no Spark job, so the first query
    pays the JVM's class-loading and JIT warm-up. Environment:
    ``SPARK_GRAFT_CPUS`` (when ``cpus`` is not given),
    ``RML_SPARK_SHUFFLE_PARTITIONS``, ``RML_SPARK_DRIVER_MEM``,
    ``RML_SPARK_UI`` and ``SPARK_LOCAL_DIRS``.
    """
    from pyspark.sql import SparkSession

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("RML_SPARK_SHUFFLE_PARTITIONS", _DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("RML_SPARK_DRIVER_MEM", "16g"))
        # UI off by default (saves startup + a port); RML_SPARK_UI=true
        # exposes the REST API for shuffle/spill evidence capture
        .config("spark.ui.enabled", os.environ.get("RML_SPARK_UI", "false"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # generated classes are cached by their code; a snapshot step
        # plans ~50 of them, so the default 100 entries evict them
        # before the next step and every step recompiled its plans
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # see the docstring: about half of a snapshot step's gateway
        # round trips; static, so it can only be set on the builder
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # local mode: shuffle files on tmpfs kill disk-latency variance (a
    # real cluster has NVMe-local shuffle dirs; this is the sandbox twin).
    # Spark ignores spark.local.dir when SPARK_LOCAL_DIRS is set, so the
    # tmpfs directory is not created then.
    shm = "/dev/shm/spark-local"
    if (
        "SPARK_LOCAL_DIRS" not in os.environ
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    return builder.getOrCreate()


_LAZY_EXPORTS = {
    "execute_mapping": ("operators.executor", "execute_mapping"),
    "PlanExecutor": ("operators.executor", "PlanExecutor"),
    "parse_mapping": ("plans.rml_parser", "parse_mapping"),
    "yarrrml_to_plan": ("plans.yarrrml", "yarrrml_to_plan"),
    "plan_to_rml": ("plans.serializer", "plan_to_rml"),
    "yarrrml2rml": ("plans.serializer", "yarrrml2rml"),
    "rml2incrml": ("plans.serializer", "rml2incrml"),
    "expand_to_incrml": ("plans.incrml", "expand_to_incrml"),
    "StateBackend": ("state", "StateBackend"),
}


def __getattr__(name: str):
    """Lazy top-level API (PEP 562): the common entry points import on
    first use without paying submodule import cost at package import."""
    if name in _LAZY_EXPORTS:
        import importlib

        mod_name, attr = _LAZY_EXPORTS[name]
        return getattr(importlib.import_module(f".{mod_name}", __name__), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
