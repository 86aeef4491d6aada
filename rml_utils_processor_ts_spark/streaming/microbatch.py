"""Micro-batch RML execution: run a (possibly stateful/IncRML) mapping
incrementally over a Structured-Streaming source via ``foreachBatch``.

This is the Spark-native form of the reference's re-map-on-update loop
(/root/reference/src/rml/rml.ts:372-424): where the reference replays
each pushed snapshot through the Java engine, here every micro-batch of
documents runs through the SAME PlanExecutor the batch engine uses —
one code path, two execution modes. Structured Streaming provides the
FIFO sequencing (A5) and exactly-one-epoch-at-a-time semantics the
reference implements with promise chaining; CDC state commits through
the versioned StateStore after each batch, so a killed stream resumes
from the last committed state snapshot.

At cluster scale the stream source is Kafka
(``sources.registry.kafka_stream_df``) or file arrivals; per-batch
output lands in the triple table / LDES targets via sinks.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import StateStore
from ..operators.executor import ExecutionResult, PlanExecutor
from ..plans.model import MappingPlan
from ..plans.rml_parser import parse_mapping
from ..sources.registry import register_memory_source, unregister_memory_source
from .snapshots import _execute_and_commit, _with_source


@dataclass
class MicroBatchMappingRunner:
    """Execute a mapping per micro-batch.

    ``mapping_text`` declares its logical source(s) normally; every
    declared source location is rebound per batch to the batch's
    document frame (column ``doc``), preserving each source's iterator/
    referenceFormulation. Results accumulate in ``results`` (one
    ExecutionResult per batch, triples materialized).
    """

    spark: SparkSession
    mapping_text: str
    state_root: str | None = None
    publisher_ref: str | None = None
    publisher_regex: str | None = None
    results: list[ExecutionResult] = field(default_factory=list)

    def __post_init__(self):
        plan = parse_mapping(self.mapping_text)
        self._store = (
            StateStore(self.spark, self.state_root) if self.state_root else None
        )
        self._key = f"mb_{id(self)}"
        # every batch registers under the same memory source, so the
        # mapping binds once and its Columns compile once
        self._plan: MappingPlan = replace(
            plan,
            triples_maps=[_with_source(tm, f"memory:{self._key}") for tm in plan.triples_maps],
        )
        self._compiled: dict = {}

    # -- batch markers, through the Hadoop filesystem of state_root --------
    # The replay guard must live on the SAME filesystem as the state data:
    # a driver-local marker next to a shared/remote state_root (or after a
    # driver restart on another node) silently disappears and a replayed
    # batch re-executes against already-updated state (r02 ADVICE). One
    # empty sentinel file per committed batch id — created, never renamed
    # or deleted, so a crash can only lose the NEWEST marker (at-least-
    # once, same guarantee as before), never the history.

    def _hadoop_fs(self):
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.state_root, "_batch_markers")
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jvm, path

    def _last_committed_batch(self) -> int:
        if not self.state_root:
            return -1
        fs, _, d = self._hadoop_fs()
        if not fs.exists(d):
            return -1
        last = -1
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if name.startswith("batch_"):
                last = max(last, int(name[len("batch_"):]))
        return last

    def _write_marker(self, batch_id: int) -> None:
        fs, jvm, d = self._hadoop_fs()
        p = jvm.org.apache.hadoop.fs.Path(d, f"batch_{batch_id}")
        fs.create(p, True).close()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> ExecutionResult | None:
        """The foreachBatch body — also callable directly with any static
        document frame (how tests drive deterministic sequences).

        Idempotent against Structured Streaming's at-least-once replay:
        foreachBatch may re-deliver the last batch after a crash; a
        replayed batch would compare against state that already includes
        it and silently emit NO lifecycle events, so batches at or below
        the committed marker are skipped instead of re-executed. The
        marker is written after the state commit — a crash between the
        two re-runs the batch against updated state, the one window this
        file-based store can't close (Iceberg multi-table transactions
        close it at cluster scale)."""
        if batch_id <= self._last_committed_batch():
            return None
        register_memory_source(self._key, batch_df)
        try:
            executor = PlanExecutor(
                self.spark,
                state_store=self._store,
                publisher_ref=self.publisher_ref,
                publisher_regex=self.publisher_regex,
                compiled=self._compiled,
            )
            result = _execute_and_commit(executor, self._plan)
        finally:
            # the step read the batch frame into checkpoints (the
            # stateful sources and the triples), so nothing references
            # it any more; keeping it registered would pin every
            # runner's last batch for the life of the process
            unregister_memory_source(self._key)
        if self._store is not None:
            self._write_marker(batch_id)
        self.results.append(result)
        return result

    def start(self, stream_df: DataFrame, query_name: str = "rml_microbatch", **options):
        """Attach to a streaming document frame (one ``doc`` per row) and
        start the query; each epoch executes the mapping once."""
        return (
            stream_df.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .queryName(query_name)
            .options(**options)
            .start()
        )
