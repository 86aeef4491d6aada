"""StateBackend seam tests beyond the CDC sequences: the
IcebergStateStore's catalog-probe/error/read/commit paths exercised with
a mocked SparkSession (the sandbox has no iceberg runtime jar —
VERDICT r4 #6), plus snapshot semantics of the in-memory backend."""

import hashlib

import pytest

from rml_utils_processor_ts_spark.state import (
    IcebergStateStore,
    InMemoryStateStore,
    StateBackend,
)


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows

    def first(self):
        return self._rows[0] if self._rows else None


class _FakeSpark:
    """Just enough SparkSession surface for IcebergStateStore: .sql and
    .table with scriptable outcomes, recording every statement."""

    def __init__(self, sql_outcomes=None, table_outcome=None):
        self.sql_log = []
        self.table_log = []
        self._sql_outcomes = dict(sql_outcomes or {})
        self._table_outcome = table_outcome

    def sql(self, q):
        self.sql_log.append(q)
        for frag, outcome in self._sql_outcomes.items():
            if frag in q:
                if isinstance(outcome, Exception):
                    raise outcome
                return outcome
        return _FakeDF([])

    def table(self, name):
        self.table_log.append(name)
        if isinstance(self._table_outcome, Exception):
            raise self._table_outcome
        return self._table_outcome


def test_probe_passes_when_catalog_resolves_but_probe_table_missing():
    fake = _FakeSpark(sql_outcomes={
        "__probe__": Exception("[TABLE_OR_VIEW_NOT_FOUND] `cat`.`ns`.`__probe__` cannot be found")
    })
    store = IcebergStateStore(fake, "cat.ns")
    assert isinstance(store, StateBackend)
    assert any("__probe__" in q for q in fake.sql_log)


def test_probe_raises_config_guidance_when_catalog_missing():
    fake = _FakeSpark(sql_outcomes={
        "__probe__": Exception("[REQUIRES_SINGLE_PART_NAMESPACE] catalog 'cat' not found")
    })
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        IcebergStateStore(fake, "cat.ns")


def _configured_store(**kw):
    fake = _FakeSpark(sql_outcomes={
        "__probe__": Exception("TABLE_OR_VIEW_NOT_FOUND"), **kw.pop("sql", {})
    }, **kw)
    return IcebergStateStore(fake, "cat.ns"), fake


def test_table_name_mapping_is_namespaced_md5():
    store, _ = _configured_store()
    sid = "/state/b053ec6bfd156dd776ba1dfa42338e5f_create_state"
    expect = f"cat.ns.state_{hashlib.md5(sid.encode()).hexdigest()}"
    assert store._table(sid) == expect
    # distinct state ids must never collide onto one table
    assert store._table(sid) != store._table(sid + "_x")


def test_read_existing_table_goes_through_spark_table():
    sentinel = object()
    store, fake = _configured_store(table_outcome=sentinel)
    assert store.read("sid") is sentinel
    assert fake.table_log == [store._table("sid")]


def test_commit_returns_latest_snapshot_id():
    store, fake = _configured_store(sql={".snapshots": _FakeDF([(4242,)])})

    class _FakeWriter:
        def __init__(self, log):
            self.log = log

        def createOrReplace(self):
            self.log.append("createOrReplace")

    writes = []

    class _FakeStateDF:
        def writeTo(self, name):
            writes.append(name)
            return _FakeWriter(writes)

    v = store.commit("sid", _FakeStateDF())
    assert v == 4242
    assert writes == [store._table("sid"), "createOrReplace"]
    assert any(".snapshots" in q and "ORDER BY committed_at DESC" in q
               for q in fake.sql_log)


def test_in_memory_versions_replay(spark):
    from rml_utils_processor_ts_spark.operators.cdc import STATE_SCHEMA

    store = InMemoryStateStore(spark)
    assert store.read("s").count() == 0
    df1 = spark.createDataFrame([("k", "iri1", "h1")], STATE_SCHEMA)
    df2 = spark.createDataFrame([("k", "iri1", "h2")], STATE_SCHEMA)
    assert store.commit("s", df1) == 1
    assert store.commit("s", df2) == 2
    assert [r[2] for r in store.read("s").collect()] == ["h2"]
    assert [r[2] for r in store.read_version("s", 1).collect()] == ["h1"]


def test_in_memory_commit_refuses_oversized_state(spark):
    """The in-memory backend collects every snapshot to the driver — an
    unbounded commit is a silent driver OOM, so it raises past max_rows
    and the error points at the pipeline-sized backends (r5 VERDICT #7).
    The collect itself is bounded by limit(max_rows+1): rejecting a
    10^9-row frame must not first pull 10^9 rows."""
    import pytest

    from rml_utils_processor_ts_spark.operators.cdc import STATE_SCHEMA

    store = InMemoryStateStore(spark, max_rows=3)
    small = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(3)], STATE_SCHEMA)
    assert store.commit("s", small) == 1
    big = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(4)], STATE_SCHEMA)
    with pytest.raises(ValueError, match="max_rows=3.*parquet"):
        store.commit("s", big)
    # the failed commit must not have versioned anything
    assert store.commit("s", small) == 2


def test_in_memory_commit_all_is_all_or_nothing(spark):
    """commit_all checks every table against max_rows before it records
    any of them: one oversized table leaves the others uncommitted."""
    import pytest

    from rml_utils_processor_ts_spark.operators.cdc import STATE_SCHEMA

    store = InMemoryStateStore(spark, max_rows=3)
    small = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(3)], STATE_SCHEMA)
    big = spark.createDataFrame([(f"k{i}", "i", "h") for i in range(4)], STATE_SCHEMA)
    with pytest.raises(ValueError, match="'b' exceeds max_rows=3"):
        store.commit_all({"a": small, "b": big})
    assert store.read("a").count() == 0
    assert store.read("b").count() == 0
    assert store.commit_all({"a": small, "b": small}) == {"a": 1, "b": 1}
    assert sorted(r[0] for r in store.read("b").collect()) == ["k0", "k1", "k2"]
