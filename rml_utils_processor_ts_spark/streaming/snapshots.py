"""Snapshot-batch runner: the Spark replacement for the reference's
source-update machinery (/root/reference/src/rml/rml.ts:276-404):

  * readiness barrier — a mapping executes only when every declared
    logical source has a snapshot (rml.ts:113,372);
  * FIFO sequencing — concurrent snapshot pushes are queued and replayed
    in arrival order (promise chain at rml.ts:67-80, buffer :289-296);
  * trigger semantics — trigger sources re-execute the mapping per new
    snapshot, non-trigger sources are static dimensions (rml.ts:416-424);
  * per-publisher state re-keying — a publisher id extracted from the
    raw snapshot partitions CDC state (rml.ts:302-370), here a regex
    column in the composite state key.

On a cluster the snapshot sequence is the Iceberg commit log
(``start-snapshot-id`` incremental reads); here an in-order list.
"""

from __future__ import annotations

import hashlib
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import SparkSession

from ..operators.cc import _materialize
from ..operators.cdc import StateStore
from ..operators.executor import ExecutionResult, PlanExecutor
from ..plans.model import MappingPlan, TriplesMap
from ..plans.rml_parser import parse_mapping


@dataclass
class SnapshotRunner:
    """Feed mapping documents + source snapshots in any order; mappings
    execute when the barrier is satisfied, snapshots queue FIFO."""

    spark: SparkSession
    state_root: str | None = None
    publisher_ref: str | None = None
    publisher_regex: str | None = None
    # A6 trigger semantics (/root/reference/src/rml/rml.ts:416-424):
    # sources listed here get their data invalidated after every run —
    # each new snapshot re-executes the mapping; other sources behave as
    # static dimensions (read once, reused across runs).
    trigger_sources: set[str] = field(default_factory=set)
    plans: dict[str, MappingPlan] = field(default_factory=dict)
    _buffers: dict[str, list[str]] = field(default_factory=dict)
    _current: dict[str, str] = field(default_factory=dict)
    results: list[ExecutionResult] = field(default_factory=list)
    # per registered mapping key: the Columns its steps' executors
    # compile (PlanExecutor ``compiled``); only the data is read at
    # every step
    _compiled: dict[str, dict] = field(default_factory=dict)

    def add_mapping(self, mapping_turtle: str) -> str:
        """Register a mapping under the sha256 of its text, so a re-pushed
        document is registered once and any other text is a mapping of
        its own (the md5-of-content registry, rml.ts:97-101). Registering
        also drains: data may arrive BEFORE the mapping (the reference's
        'data input arriving before mappings' scenario,
        test/rml.test.ts:515-574, where the mapping stream's end
        triggers execution over already-buffered snapshots) — runs land
        in ``self.results``."""
        key = hashlib.sha256(mapping_turtle.encode()).hexdigest()
        if key not in self.plans:
            self.plans[key] = parse_mapping(mapping_turtle, add_prefixes=True)
        self._drain()
        return key

    def declared_sources(self) -> set[str]:
        out: set[str] = set()
        for plan in self.plans.values():
            for tm in plan.triples_maps:
                out.add(tm.logical_source.source)
        return out

    def push_snapshot(self, source: str, payload: str) -> list[ExecutionResult]:
        """Buffer a snapshot for ``source``; drain executable runs."""
        self._buffers.setdefault(source, []).append(payload)
        return self._drain()

    def _barrier_ok(self) -> bool:
        return all(
            s in self._current or self._buffers.get(s)
            for s in self.declared_sources()
        )

    def _drain(self) -> list[ExecutionResult]:
        ran: list[ExecutionResult] = []
        while self._barrier_ok():
            progressed = False
            for s in self.declared_sources():
                if self._buffers.get(s):
                    self._current[s] = self._buffers[s].pop(0)
                    progressed = True
            if not progressed:
                break
            ran.append(self._run_once())
            # trigger reset: these sources must receive a NEW snapshot
            # before the next execution (rml.ts:416-424)
            for s in self.trigger_sources:
                self._current.pop(s, None)
        return ran

    def _run_once(self) -> ExecutionResult:
        bindings = {src: "inline:" + payload for src, payload in self._current.items()}
        store = StateStore(self.spark, self.state_root) if self.state_root else None
        merged: ExecutionResult | None = None
        for key, plan in self.plans.items():
            bound = MappingPlan(
                triples_maps=[
                    _with_source(tm, bindings.get(tm.logical_source.source)) for tm in plan.triples_maps
                ],
                source_bindings=bindings,
            )
            executor = PlanExecutor(
                self.spark,
                state_store=store,
                publisher_ref=self.publisher_ref,
                publisher_regex=self.publisher_regex,
                compiled=self._compiled.setdefault(key, {}),
            )
            result = _execute_and_commit(executor, bound)
            merged = result if merged is None else ExecutionResult(
                triples=merged.triples.unionByName(result.triples)
            )
        assert merged is not None, "no mappings registered"
        self.results.append(merged)
        return merged


# Catalyst and AQE replace a join, union branch or aggregate over an
# empty input by an empty or null-padded relation. In a snapshot step
# that makes the physical plans depend on which event sets are empty:
# the first step (no state yet, nothing to update or delete) plans
# without the CDC join, the semi-joins and the delete projection, so the
# second step is the first to plan, code-generate and JIT-warm them and
# takes about 1.5x as long as the steps after it. With the two rules off
# during a step, every step runs the same plans.
_EMPTY_RELATION_RULES = {
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation",
    "spark.sql.adaptive.optimizer.excludedRules": (
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    ),
}
# the rules are session settings: steps of one session take turns
_STEP_LOCK = threading.RLock()


@contextmanager
def _same_plans_when_empty(spark: SparkSession):
    with _STEP_LOCK:
        before = {key: spark.conf.get(key, None) for key in _EMPTY_RELATION_RULES}
        for key, rule in _EMPTY_RELATION_RULES.items():
            spark.conf.set(key, ",".join(r for r in (before[key], rule) if r))
        try:
            yield
        finally:
            for key, value in before.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


def _execute_and_commit(executor: PlanExecutor, plan: MappingPlan) -> ExecutionResult:
    """One snapshot step, shared by both runners: execute the plan,
    materialize its triples, then commit its state updates."""
    with _same_plans_when_empty(executor.spark):
        result = executor.execute(plan)
        # Materialize before the state commit: computed lazily after
        # commit_all, the triples could read the state this step just
        # wrote (a table-backed backend resolves its current snapshot
        # when a query runs), so a step's output would observe its own
        # state update. The triples read only the two checkpoints
        # execute() made, of the stateful sources' records and of the
        # classification against state, so they neither re-iterate a
        # source nor re-join the state. Executor-side checkpoint (never
        # a driver collect — a table-backed source would pull the whole
        # triple set through the driver).
        result.triples = _materialize(result.triples)
        if executor.state_store is not None:
            executor.state_store.commit_all(result.state_updates)
    return result


def _with_source(tm: TriplesMap, source: str | None) -> TriplesMap:
    """``tm`` reading ``source`` (unchanged when None); shares every
    other part with ``tm``, which no step mutates."""
    if source is None:
        return tm
    return replace(tm, logical_source=replace(tm.logical_source, source=source))
