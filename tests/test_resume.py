"""Resumability + lineage tests (north_rule: per-partition lineage rows,
resume from last committed snapshot; kill/restart test at small scale)."""

from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.operators.executor import execute_mapping
from rml_utils_processor_ts_spark.sinks.triple_table import (
    completed_runs,
    read_triple_table,
    write_triple_table,
)


def _triples(spark, sf_dir="/root/testdata/sf0.001"):
    mapping = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:{sf_dir}/nation.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://ex.org/nation/{{n_nationkey}}" ;
        rr:class <http://ex.org/Nation> ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "n_name" ] ] .
"""
    return execute_mapping(spark, mapping).triples


def test_lineage_rows_and_latest_pointer(spark, tmp_path):
    path = str(tmp_path / "graph")
    df = _triples(spark)
    summary = write_triple_table(df, path, run_id="run_1", n_buckets=4)
    assert summary["n_triples"] == 50
    stored = read_triple_table(spark, path)
    assert stored.count() == 50
    # lineage: per (bucket, target) counts + subject ranges present
    lineage = spark.read.parquet(f"{path}/v_1/lineage")
    rows = lineage.collect()
    assert sum(r["n_triples"] for r in rows) == 50
    assert all(r["min_subject"] <= r["max_subject"] for r in rows)
    assert {r["run_id"] for r in rows} == {"run_1"}


def test_resume_skips_committed_runs(spark, tmp_path):
    """The planner-side resume check: a run id already in committed
    lineage is skipped; a killed (uncommitted) write never surfaces."""
    path = str(tmp_path / "graph")
    df = _triples(spark)
    write_triple_table(df, path, run_id="run_1")
    assert completed_runs(spark, path) == {"run_1"}

    # simulate a killed run: partial snapshot dir without LATEST repoint
    import os

    os.makedirs(f"{path}/v_2/data", exist_ok=True)
    with open(f"{path}/v_2/data/_partial", "w") as fh:
        fh.write("crashed mid-write")
    # reader still serves v_1; completed_runs unaffected
    assert read_triple_table(spark, path).count() == 50
    assert completed_runs(spark, path) == {"run_1"}

    # restart: the same run id is detected as done -> skip; a new run
    # commits v_2+ atomically (writer picks the next free version)
    if "run_1" not in completed_runs(spark, path):
        raise AssertionError("resume check failed")
    write_triple_table(df.limit(10), path, run_id="run_2")
    assert completed_runs(spark, path) == {"run_2"}  # latest snapshot lineage
    assert read_triple_table(spark, path).count() == 10


def test_state_store_versions_survive_and_time_travel(spark, tmp_path):
    from rml_utils_processor_ts_spark.operators.cdc import StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    s1 = spark.createDataFrame([("a", "", "1")], "iri string, publisher string, watched_hash string")
    s2 = spark.createDataFrame([("a", "", "2")], "iri string, publisher string, watched_hash string")
    assert store.commit_all({"x": s1}) == {"x": 1}
    assert store.commit_all({"x": s2}) == {"x": 2}
    latest = store.read("x").collect()
    assert latest[0]["watched_hash"] == "2"
