"""State-backend seam: the executor/streaming layers depend only on
this interface, so the sandbox's versioned-parquet implementation
(``operators.cdc.StateStore``) and any other store are drop-in swaps.

The contract every backend provides, and the only two calls the engine
makes:

* ``read(state_id) -> DataFrame`` — latest committed snapshot of one
  logical state table (empty frame with the state schema if none).
* ``commit_all(updates) -> dict[str, int]`` — publish the state tables
  of one step (one per IncRML state path) and return each one's new
  version. Atomic across its tables in every backend: after a failure
  every table reads its previous version, never a mix.

Consumers type against :class:`StateBackend`; nothing in the engine
touches files or catalogs directly.
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ioutil import local_frame


class StateBackend(abc.ABC):
    """Abstract snapshot-versioned key-value-table store."""

    @abc.abstractmethod
    def read(self, state_id: str) -> DataFrame:
        """Latest committed snapshot (empty state-schema frame if none)."""

    @abc.abstractmethod
    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        """Atomically publish every frame of ``updates`` as its state
        table's next snapshot; return each table's new version."""


class InMemoryStateStore(StateBackend):
    """Driver-memory backend: the latest snapshot of each state id held
    as a collected row list, plus one store-wide version counter.

    A second implementation of the seam (after versioned parquet)
    proving consumers never reach past the interface. Intended for tests
    and small interactive runs — state must fit on the driver; every
    commit materializes the frame."""

    #: commit_all() refuses frames larger than this — the backend
    #: collects every snapshot to the driver, so an unbounded commit is a
    #: silent driver OOM in a pipeline that should be on the parquet
    #: backend.
    DEFAULT_MAX_ROWS = 1_000_000

    def __init__(self, spark: SparkSession, max_rows: int = DEFAULT_MAX_ROWS):
        self.spark = spark
        self.max_rows = max_rows
        self.version = 0
        # state_id -> (schema, rows) — the committed frame's OWN schema
        # is retained (like a parquet round-trip would); re-imposing
        # STATE_SCHEMA column order here silently scrambled values when
        # a caller committed columns in a different order
        self._latest: dict[str, tuple] = {}

    def read(self, state_id: str) -> DataFrame:
        from .operators.cdc import STATE_SCHEMA

        if state_id not in self._latest:
            return local_frame(self.spark, [], STATE_SCHEMA)
        schema, rows = self._latest[state_id]
        return local_frame(self.spark, rows, schema)

    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        """Collect the union of the tables once (one union per distinct
        schema), check every table against ``max_rows``, and only then
        record any of them."""
        if not updates:
            return {}
        groups: dict[str, list[str]] = {}
        for sid, df in updates.items():
            groups.setdefault(df.schema.json(), []).append(sid)
        collected: dict[str, list[list]] = {sid: [] for sid in updates}
        for sids in groups.values():
            # limit(max_rows + 1) bounds the driver transfer even when the
            # caller hands us an oversized frame — we never collect past
            # the ceiling we are about to reject.
            union = None
            for i, sid in enumerate(sids):
                tagged = updates[sid].limit(self.max_rows + 1).select(F.lit(i).alias("__table"), "*")
                union = tagged if union is None else union.union(tagged)
            for r in union.collect():
                collected[sids[r[0]]].append(list(r)[1:])
        for sid, rows in collected.items():
            if len(rows) > self.max_rows:
                raise ValueError(
                    f"InMemoryStateStore.commit_all: state {sid!r} exceeds "
                    f"max_rows={self.max_rows}; this backend collects snapshots "
                    "to the driver. Use operators.cdc.StateStore (versioned "
                    "parquet) for pipeline-sized state."
                )
        self.version += 1
        for sid, rows in collected.items():
            self._latest[sid] = (updates[sid].schema, rows)
        return {sid: self.version for sid in updates}
