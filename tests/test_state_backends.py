"""StateBackend seam tests beyond the CDC sequences: the seam is exactly
``read`` + ``commit_all``, a backend defining only those two runs the
full Create/Update/Delete sequence, and the in-memory backend keeps the
latest snapshot per state id."""

import pytest
from fixtures import RML_STATEFUL, XML_DOC, XML_DOC_V2, XML_DOC_V3_DROPPED

from rml_utils_processor_ts_spark.operators.cdc import STATE_SCHEMA
from rml_utils_processor_ts_spark.operators.executor import PlanExecutor
from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
from rml_utils_processor_ts_spark.state import InMemoryStateStore, StateBackend

EX = "http://example.org/"
LIFECYCLE = EX + "lifeCycleType"


def test_state_backend_seam_is_read_and_commit_all():
    assert StateBackend.__abstractmethods__ == {"read", "commit_all"}


class _RowsBackend(StateBackend):
    """The least a backend can be: both abstract methods, nothing else."""

    def __init__(self, spark):
        self.spark = spark
        self.tables = {}

    def read(self, state_id):
        schema, rows = self.tables.get(state_id, (STATE_SCHEMA, []))
        return self.spark.createDataFrame(rows, schema)

    def commit_all(self, updates):
        # collect every table before recording any: all or nothing
        self.tables.update({sid: (df.schema, df.collect()) for sid, df in updates.items()})
        return {sid: 1 for sid in updates}


def _events(spark, store, doc):
    plan = parse_mapping(RML_STATEFUL.format(source="dataset/data.xml"), {"dataset/data.xml": "inline:" + doc})
    result = PlanExecutor(spark, state_store=store).execute(plan)
    rows = result.triples.collect()
    store.commit_all(result.state_updates)
    events = {}
    for r in rows:
        if r["p"] == LIFECYCLE:
            events.setdefault(r["o"].rsplit("#", 1)[-1], set()).add(r["s"])
    return events


def test_minimal_backend_runs_create_update_delete(spark):
    store = _RowsBackend(spark)
    assert _events(spark, store, XML_DOC) == {"Create": {EX + "001", EX + "002"}}
    assert _events(spark, store, XML_DOC_V2) == {"Update": {EX + "001", EX + "002"}}
    assert _events(spark, store, XML_DOC_V2) == {}
    assert EX + "002" in _events(spark, store, XML_DOC_V3_DROPPED).get("Delete", set())


def test_in_memory_keeps_latest_only(spark):
    store = InMemoryStateStore(spark)
    assert store.read("s").count() == 0
    df1 = spark.createDataFrame([("k", "iri1", "h1")], STATE_SCHEMA)
    df2 = spark.createDataFrame([("k", "iri1", "h2")], STATE_SCHEMA)
    assert store.commit_all({"s": df1}) == {"s": 1}
    assert store.commit_all({"s": df2}) == {"s": 2}
    assert [r[2] for r in store.read("s").collect()] == ["h2"]
    assert store.version == 2


def test_in_memory_commit_refuses_oversized_state(spark):
    """The in-memory backend collects every snapshot to the driver — an
    unbounded commit is a silent driver OOM, so it raises past max_rows
    and the error points at the parquet backend.
    The collect itself is bounded by limit(max_rows+1): rejecting a
    10^9-row frame must not first pull 10^9 rows."""
    store = InMemoryStateStore(spark, max_rows=3)
    small = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(3)], STATE_SCHEMA)
    assert store.commit_all({"s": small}) == {"s": 1}
    big = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(4)], STATE_SCHEMA)
    with pytest.raises(ValueError, match="max_rows=3.*parquet"):
        store.commit_all({"s": big})
    # the failed commit must not have versioned anything
    assert store.commit_all({"s": small}) == {"s": 2}


def test_in_memory_commit_all_is_all_or_nothing(spark):
    """commit_all checks every table against max_rows before it records
    any of them: one oversized table leaves the others uncommitted."""
    store = InMemoryStateStore(spark, max_rows=3)
    small = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(3)], STATE_SCHEMA)
    big = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(4)], STATE_SCHEMA)
    with pytest.raises(ValueError, match="'b' exceeds max_rows=3"):
        store.commit_all({"a": small, "b": big})
    assert store.read("a").count() == 0
    assert store.read("b").count() == 0
    assert store.commit_all({"a": small, "b": small}) == {"a": 1, "b": 1}
    assert sorted(r[0] for r in store.read("b").collect()) == ["k0", "k1", "k2"]
