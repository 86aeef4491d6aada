"""Driver-held rows enter Spark as Arrow local relations.

Every frame the package builds from rows it holds on the driver (inline
documents, empty state tables, committed in-memory state, the empty
triples frame, LDES stream metadata) goes through
``ioutil.local_frame``: its executed plan scans a ``LocalTableScan``,
never a pickled Python RDD (``Scan ExistingRDD``), whose every scan
hands its rows through Python workers. A committed parquet state table
is read with its known schema, so reading it starts no job."""

import pytest
from fixtures import JSON_DOC, XML_DOC
from pyspark.sql import types as T

from rml_utils_processor_ts_spark.operators.cdc import STATE_SCHEMA, StateStore
from rml_utils_processor_ts_spark.operators.executor import PlanExecutor
from rml_utils_processor_ts_spark.plans import voc
from rml_utils_processor_ts_spark.plans.model import LogicalSource
from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
from rml_utils_processor_ts_spark.sources.registry import records_df
from rml_utils_processor_ts_spark.state import InMemoryStateStore


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _records(spark, doc, kind, iterator, refs):
    ls = LogicalSource(source="inline:" + doc, kind=kind, iterator=iterator)
    return records_df(spark, ls, refs)


def test_inline_xml_records_scan_local_relation(spark):
    df = _records(spark, XML_DOC, "xpath", "//data", ["@id", "@label"])
    assert_local(df)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("001", "some data"),
        ("002", "some other data"),
    ]


def test_inline_json_records_scan_local_relation(spark):
    df = _records(spark, JSON_DOC, "jsonpath", "$.[*]", ["id", "name"])
    assert_local(df)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("101", "Station A"),
        ("102", "Station B"),
    ]


@pytest.mark.parametrize(
    "doc, expected",
    [
        (
            '<r><data id="a" label="outer"><data id="b" label="inner"/></data></r>',
            [("a", "outer"), ("b", "inner")],
        ),
        (
            '<r xmlns="urn:x"><data id="c" label="l1"/><data id="d" label="l2"/></r>',
            [("c", "l1"), ("d", "l2")],
        ),
    ],
    ids=["nested", "xmlns"],
)
def test_walker_documents_scan_local_relation(spark, doc, expected):
    """Nested and namespaced documents still take the Arrow walker UDF,
    and it yields the records it did over the RDD input."""
    df = _records(spark, doc, "xpath", "//data", ["@id", "@label"])
    assert_local(df)
    assert "ArrowEvalPython" in _plan(df)
    assert sorted(tuple(r) for r in df.collect()) == expected


def test_missing_parquet_state_is_local_relation(spark, tmp_path):
    df = StateStore(spark, str(tmp_path / "state")).read("nothing_committed")
    assert_local(df)
    assert df.schema == T.StructType.fromDDL(STATE_SCHEMA)
    assert df.collect() == []


def test_committed_parquet_state_read_starts_no_job(spark, tmp_path):
    """The parquet reader gets STATE_SCHEMA, so no footer-reading job
    infers it."""
    store = StateStore(spark, str(tmp_path / "state"))
    rows = [("http://ex.org/1", "p", "h1"), ("http://ex.org/2", None, "h2")]
    store.commit_all({"s": spark.createDataFrame(rows, STATE_SCHEMA)})
    sc = spark.sparkContext
    group = "test_committed_parquet_state_read_starts_no_job"
    sc.setJobGroup(group, group)
    try:
        df = store.read("s")
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(df.collect(), key=lambda r: r["iri"]) == rows


def test_in_memory_state_is_local_relation(spark):
    store = InMemoryStateStore(spark)
    assert_local(store.read("s"))
    store.commit_all({"s": spark.createDataFrame([("http://ex.org/1", "p", "h")], STATE_SCHEMA)})
    assert_local(store.read("s"))


def test_in_memory_state_round_trips_committed_schema(spark):
    """A frame in another column order than STATE_SCHEMA, with a bigint
    column and nulls, reads back through a local relation with its own
    schema and values."""
    store = InMemoryStateStore(spark)
    rows = [("h1", 7, "http://ex.org/1", None), (None, None, "http://ex.org/2", "p")]
    committed = spark.createDataFrame(rows, "watched_hash string, n bigint, iri string, publisher string")
    store.commit_all({"s": committed})
    got = store.read("s")
    assert_local(got)
    assert got.schema == committed.schema
    assert sorted((tuple(r) for r in got.collect()), key=lambda r: r[2]) == rows


def test_empty_triples_is_local_relation(spark):
    assert_local(PlanExecutor(spark)._empty_triples())


def test_ldes_stream_metadata_is_local_relation(spark, tmp_path):
    """The stream-metadata quads of the ``rml_ldes_base_iri`` mapping
    come from a local relation next to the member scan."""
    events = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [("1", "open", "2024-01-01T00:00:00Z"), ("2", "close", "2024-01-02T00:00:00Z")],
        "event_id string, event_type string, ts string",
    ).write.parquet(events)
    mapping = f"""
ex:map_events a rr:TriplesMap ;
    rml:logicalSource [ a rml:LogicalSource ;
        rml:source "table:{events}" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ a rr:SubjectMap ;
        rr:template "http://ex.org/event/{{event_id}}" ;
        rml:logicalTarget [ a rmlt:EventStreamTarget ;
            rmlt:serialization formats:N-Quads ;
            rmlt:ldesBaseIRI <http://ex.org/stream> ;
            rmlt:ldes [ a ldes:EventStream ;
                ldes:timestampPath dct:modified ;
                ldes:versionOfPath dct:isVersionOf ;
                tree:shape <http://ex.org/shape> ] ;
            rmlt:ldesGenerateImmutableIRI "true"^^xsd:boolean ] ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://ex.org/ns/eventType> ] ;
        rr:objectMap [ rml:reference "event_type" ; rr:termType rr:Literal ] ] .
"""
    triples = PlanExecutor(spark, passthrough=("ts",), ldes_ts_col="ts").execute(parse_mapping(mapping)).triples
    assert_local(triples)
    stream = {(r["p"], r["o"]) for r in triples.collect() if r["s"] == "http://ex.org/stream"}
    assert (voc.RDF_TYPE, voc.LDES_EVENT_STREAM) in stream
    assert (voc.TREE_SHAPE, "http://ex.org/shape") in stream
    assert sum(p == voc.TREE_MEMBER for p, _ in stream) == 2
