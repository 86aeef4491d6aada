"""Term-map projection: one projector serves plain, LDES and CDC
TriplesMaps — POM-graph null semantics, per-TriplesMap subject term
types in a fused group, and LDES TriplesMaps fusing with plain ones."""

from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.operators.executor import execute_mapping

_POM_GRAPH_DATA = 'inline:[{"id": "1", "name": "a", "grp": "x"}, {"id": "2", "name": "b"}]'


def test_pom_graph_null_drops_quad_fused(spark):
    """A data-derived POM-level graph map that evaluates to null is a
    data error: the quad is DROPPED, not rerouted to the default graph
    (ADVICE r6). The subject-graph twin quad (R2RML §9 union)
    still emits. Plain TriplesMap."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
      rr:objectMap [ rml:reference "name" ] ;
      rr:graphMap [ rr:template "http://ex.org/g/{grp}" ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": _POM_GRAPH_DATA})
    got = {(r["s"], r["o"], r["g"]) for r in res.triples.collect()}
    assert got == {("http://ex.org/s/1", "a", "http://ex.org/g/x")}


def test_pom_graph_null_drops_quad_ldes(spark):
    """Same drop semantics for a TriplesMap with an LDES logical target
    on its subject map."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ;
      rml:logicalTarget [ a rmlt:EventStreamTarget ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
      rr:objectMap [ rml:reference "name" ] ;
      rr:graphMap [ rr:template "http://ex.org/g/{grp}" ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": _POM_GRAPH_DATA})
    name_rows = {
        (r["s"], r["o"], r["g"])
        for r in res.triples.filter(F.col("p") == "http://example.org/name").collect()
    }
    assert name_rows == {("http://ex.org/s/1", "a", "http://ex.org/g/x")}


def test_ldes_target_adds_modified_quad(spark):
    """An LDES target adds one dct:modified quad per member next to the
    TriplesMap's own quads."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ;
      rml:logicalTarget [ a rmlt:EventStreamTarget ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rml:reference "name" ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": 'inline:[{"id": "1", "name": "a"}]'})
    assert res.triples.filter(F.col("p") == "http://example.org/name").count() == 1
    assert res.triples.filter(F.col("p") == "http://purl.org/dc/terms/modified").count() == 1


def test_fused_group_mixed_subject_termtypes(spark, sf_dir):
    """Fused same-source projection carries a per-TriplesMap s_termtype."""
    mapping = f"""
ex:m1 a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:{sf_dir}/region.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://x/r/{{r_regionkey}}" ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/name> ] ;
        rr:objectMap [ rml:reference "r_name" ] ] .

ex:m2 a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:{sf_dir}/region.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "r{{r_regionkey}}" ; rr:termType rr:BlankNode ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/name> ] ;
        rr:objectMap [ rml:reference "r_name" ] ] .
"""
    rows = execute_mapping(spark, mapping).triples.collect()
    ttypes = {r["s"]: r["s_termtype"] for r in rows}
    assert ttypes["http://x/r/0"] == "IRI"
    assert ttypes["r0"] == "BlankNode"


_SRC = """
ex:src a rml:LogicalSource ; rml:source "d.csv" ; rml:referenceFormulation ql:CSV .
"""

_PLAIN_TM = """
ex:plain a rr:TriplesMap ;
  rml:logicalSource ex:src ;
  rr:subjectMap [ rr:template "http://ex.org/p/{id}" ; rr:class ex:Thing ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rml:reference "name" ] ] .
"""

_LDES_TM = """
ex:versioned a rr:TriplesMap ;
  rml:logicalSource ex:src ;
  rr:subjectMap [ rr:template "http://ex.org/v/{id}" ;
      rml:logicalTarget [ a rmlt:EventStreamTarget ;
          rmlt:ldesBaseIRI <http://ex.org/stream> ;
          rmlt:ldesGenerateImmutableIRI "true"^^xsd:boolean ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rml:reference "name" ] ] .
"""


def test_ldes_tm_fuses_with_plain_tm(spark):
    """A plain and an LDES TriplesMap over one source emit the union of
    their separate outputs, through ONE explode (Generate) over one
    scan of the source."""
    bindings = {"d.csv": "inline:id,name\n1,a\n2,b\n"}
    kw = {"version_ts": "2024-01-01T00:00:00Z"}

    def quads(mapping):
        # target_id is the LDES target's blank-node label, fresh per parse
        res = execute_mapping(spark, _SRC + mapping, bindings, **kw)
        return res, {tuple(r)[:-1] for r in res.triples.collect()}

    _, plain = quads(_PLAIN_TM)
    _, ldes = quads(_LDES_TM)
    both_res, both = quads(_PLAIN_TM + _LDES_TM)
    assert plain and ldes
    assert both == plain | ldes
    assert ("http://ex.org/stream", "IRI", "https://w3id.org/tree#member",
            "http://ex.org/v/1#2024-01-01T00:00:00Z") in {r[:4] for r in both}
    assert len(both_res.target_ids()) == 2
    plan = both_res.triples._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1, plan


def test_ldes_member_without_timestamp_emits_no_null_terms(spark, tmp_path):
    """An immutable LDES member whose timestamp is null has no version
    IRI: its quads drop, like any quad whose subject fails to generate,
    instead of leaking a null subject (or a null tree:member object)."""
    import datetime

    from rml_utils_processor_ts_spark.operators.executor import PlanExecutor
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping

    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [(1, "open", datetime.datetime(2024, 1, 1)), (2, "close", None)],
        "event_id long, event_type string, ts timestamp",
    ).write.parquet(path)
    mapping = f"""
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "table:{path}" ;
      rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
  rr:subjectMap [ rr:template "http://ex.org/event/{{event_id}}" ;
      rml:logicalTarget [ a rmlt:EventStreamTarget ;
          rmlt:ldesBaseIRI <http://ex.org/stream> ;
          rmlt:ldesGenerateImmutableIRI "true"^^xsd:boolean ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:type ; rr:objectMap [ rml:reference "event_type" ] ] .
"""
    res = PlanExecutor(spark, passthrough=("ts",), ldes_ts_col="ts").execute(parse_mapping(mapping))
    rows = res.triples.collect()
    assert all(r["s"] is not None and r["o"] is not None for r in rows), rows
    members = {r["o"] for r in rows if r["p"] == "https://w3id.org/tree#member"}
    assert members == {"http://ex.org/event/1#2024-01-01T00:00:00Z"}



def test_single_target_plan_lists_its_target_without_a_distinct(spark, tmp_path):
    """A plan whose quads can reach one target only lists it with an
    emptiness probe instead of a distinct collect over the triples, and
    an empty result lists none, so write_targets writes nothing. A plan
    that can reach two targets still lists the ones its triples hold."""
    from rml_utils_processor_ts_spark.operators.cc import _materialize
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.sinks import write_targets

    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    bindings = {"d.csv": "inline:id,name\n1,a\n2,b\n"}
    one = execute_mapping(spark, _SRC + _PLAIN_TM, bindings)
    one.triples = _materialize(one.triples)
    assert one.reachable_targets == {"default"}
    listed, probe_jobs = jobs("single_target_probe", one.target_ids)
    collected, collect_jobs = jobs(
        "single_target_collect",
        lambda: [r[0] for r in one.triples.select("target_id").distinct().collect()],
    )
    assert listed == collected == ["default"]
    assert probe_jobs < collect_jobs, (probe_jobs, collect_jobs)

    empty = execute_mapping(spark, _SRC + _PLAIN_TM, {"d.csv": "inline:id,name\n"})
    assert empty.target_ids() == []
    plan = parse_mapping(_SRC + _PLAIN_TM)
    assert write_targets(empty, plan, str(tmp_path / "empty")) == {}
    assert not (tmp_path / "empty").exists()

    two = execute_mapping(spark, _SRC + _PLAIN_TM + _LDES_TM, bindings, version_ts="2024-01-01T00:00:00Z")
    assert len(two.reachable_targets) == 2
    assert sorted(two.target_ids()) == sorted({r["target_id"] for r in two.triples.collect()})
