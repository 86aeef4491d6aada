"""Round-7 regression tests: the five driver-ADVICE items (function-param
@base corruption, language/datatype term-type default, constant-literal
lang/datatype propagation, XPath round() semantics; the POM-graph null
drop tests live in test_projection.py) plus the persisted-index
atomic-publish concurrency fix."""

import threading

from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.operators.executor import execute_mapping
from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping


def test_base_does_not_corrupt_function_params():
    """@base must never be prepended to FNML function-parameter value
    templates (grel:valueParameter "{first} {last}" is a VALUE input,
    not an IRI) — official FNML cases routinely declare @base and the
    pre-fix parser silently corrupted every function input."""
    mapping = """
@base <http://example.com/base/> .
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "x" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "people/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [
     a fnml:FunctionTermMap ; fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes ;
            rr:objectMap [ rr:constant grel:toUpperCase ] ] ;
        rr:predicateObjectMap [ rr:predicate grel:valueParameter ;
            rr:objectMap [ rr:template "{first} {last}" ] ]
     ] ] ] .
"""
    plan = parse_mapping(mapping)
    tm = plan.triples_maps[0]
    # IRI-position template: base-resolved
    assert tm.subject_map.term_map.template == "http://example.com/base/people/{id}"
    # function parameter: untouched
    fn = tm.predicate_object_maps[0].object.function
    (param,) = [v for k, v in fn.params.items() if k.endswith("valueParameter")]
    assert param.template == "{first} {last}"


def test_language_forces_literal_default(spark):
    """R2RML §7.4.1: rr:language (or rml:languageMap / rr:datatype /
    rml:datatypeMap) on a template-valued object map defaults the term
    type to rr:Literal — the pre-fix default of IRI dropped the computed
    language tag and serialized the value as an IRI."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
      rr:objectMap [ rr:template "{name} esq." ; rr:language "en" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:code ;
      rr:objectMap [ rr:template "{id}0" ;
          rr:datatype <http://www.w3.org/2001/XMLSchema#integer> ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": 'inline:[{"id": "1", "name": "jo"}]'})
    rows = {r["p"]: r for r in res.triples.collect()}
    name = rows["http://example.org/name"]
    assert name["o_termtype"] == "Literal"
    assert name["o"] == "jo esq." and name["o_lang"] == "en"
    code = rows["http://example.org/code"]
    assert code["o_termtype"] == "Literal"
    assert code["o_datatype"] == "http://www.w3.org/2001/XMLSchema#integer"


def test_constant_literal_keeps_lang_and_datatype(spark):
    """rr:object "hello"@en and typed rr:constant literals carry their
    own language tag / datatype into the emitted quad."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:greeting ; rr:object "hello"@en ] ;
  rr:predicateObjectMap [ rr:predicate ex:size ;
      rr:objectMap [ rr:constant "5"^^<http://www.w3.org/2001/XMLSchema#integer> ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": 'inline:[{"id": "1"}]'})
    rows = {r["p"]: r for r in res.triples.collect()}
    greet = rows["http://example.org/greeting"]
    assert (greet["o"], greet["o_lang"], greet["o_termtype"]) == ("hello", "en", "Literal")
    size = rows["http://example.org/size"]
    assert size["o"] == "5"
    assert size["o_datatype"] == "http://www.w3.org/2001/XMLSchema#integer"
    assert size["o_termtype"] == "Literal"


def test_xpath_substring_round_half_up():
    """XPath 1.0 round() is round-half-toward-positive-infinity:
    substring('12345', 1.5, 2.6) == '234' (start 2, length 3)."""
    from rml_utils_processor_ts_spark.sources.xpath_ext import _xpath_substring

    assert _xpath_substring("12345", 1.5, 2.6) == "234"
    # Python round() would give start=2 here; spec says 3
    assert _xpath_substring("12345", 2.5, None) == "345"
    assert _xpath_substring("12345", 0.0, 3.0) == "12"  # window clips at pos 1
    assert _xpath_substring("12345", -0.5, 4.0) == "123"


def test_ensure_index_concurrent_writers_and_readers(spark, tmp_path):
    """The round-6 race: one harness rewriting a shared persisted-index
    path while another read it mid-scan (FileScanRDD failure).
    ensure_lsh_index publishes atomically (build temp dir -> rename), so
    N concurrent ensure calls yield exactly one publisher and every
    concurrent reader sees only a complete index."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        ensure_lsh_index,
        lsh_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    path = str(tmp_path / "race_idx")
    publishes: list[bool] = []
    errors: list[BaseException] = []
    results: list[frozenset] = []
    lock = threading.Lock()

    def writer():
        try:
            ok = ensure_lsh_index(emb, path, n_planes=4)
            with lock:
                publishes.append(ok)
        except BaseException as e:  # noqa: BLE001 - collected for assert
            with lock:
                errors.append(e)

    def reader():
        try:
            import os
            import time

            for _ in range(200):
                if os.path.isdir(path):
                    break
                time.sleep(0.05)
            rows = frozenset(
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in lsh_index_topk(spark, path, [0, 1, 2], k=5).collect()
            )
            with lock:
                results.append(rows)
        except BaseException as e:  # noqa: BLE001
            with lock:
                errors.append(e)

    threads = [threading.Thread(target=writer) for _ in range(3)] + [
        threading.Thread(target=reader) for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert sum(publishes) == 1, f"exactly one publisher expected, got {publishes}"
    assert len(results) == 2 and results[0] == results[1] and len(results[0]) > 0


def test_ensure_index_rebuilds_stale_dir(spark, tmp_path):
    """A half-written index dir (no _INDEX_READY marker — e.g. a crashed
    pre-fix overwrite) is moved aside and rebuilt, not trusted."""
    import os

    from rml_utils_processor_ts_spark.operators.similarity import (
        ensure_lsh_index,
        lsh_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    path = str(tmp_path / "stale_idx")
    os.makedirs(path)
    with open(os.path.join(path, "junk.parquet"), "w") as fh:
        fh.write("not a parquet file")
    assert ensure_lsh_index(emb, path, n_planes=4) is True
    assert os.path.exists(os.path.join(path, "_INDEX_READY"))
    assert not os.path.exists(os.path.join(path, "junk.parquet"))
    assert lsh_index_topk(spark, path, [0], k=3).count() > 0
    # second call: already published -> no rebuild
    assert ensure_lsh_index(emb, path, n_planes=4) is False


def test_canonicalization_stays_in_codegen(spark):
    """The XSD canonical-form transforms are regexp/concat/when chains
    and must not evict the term-map projection from whole-stage codegen
    (the r6 lesson: one higher-order function in a projection dropped
    the WHOLE stage to interpreted mode for 1.6-1.8x)."""
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
      rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/s/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:v ;
      rr:objectMap [ rml:reference "v" ;
          rr:datatype <http://www.w3.org/2001/XMLSchema#double> ] ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": 'inline:[{"id": "1", "v": "20.0"}]'})
    plan = res.triples._jdf.queryExecution().executedPlan().toString()
    assert "CodegenFallback" not in plan
    # and the transform is actually active
    assert [r["o"] for r in res.triples.collect()] == ["2.0E1"]


def test_nojoin_refobjmap_different_sources_raises(spark):
    """R2RML §11: a referencing object map without join conditions is
    only valid over identical logical sources — different sources must
    raise, never silently cross-join (r7; the DataFrame join with a
    None condition would otherwise produce a cartesian product)."""
    import pytest as _pytest

    from rml_utils_processor_ts_spark.operators.executor import execute_mapping

    m = """
ex:a a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ; rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/a/{Id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:p ; rr:objectMap [ rr:parentTriplesMap ex:b ] ] .
ex:b a rr:TriplesMap ;
  rml:logicalSource [ rml:source "e.json" ; rml:iterator "$.[*]" ; rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/b/{Id}" ] .
"""
    with _pytest.raises(ValueError, match="identical logical sources"):
        execute_mapping(
            spark, m,
            {"d.json": 'inline:[{"Id": "1"}]', "e.json": 'inline:[{"Id": "2"}]'},
        ).triples.collect()


def test_nojoin_refobjmap_plan_has_no_join(spark):
    """The same-row path must compile to a join-free plan (scale
    contract: no shuffle, no cross product)."""
    from rml_utils_processor_ts_spark.operators.executor import execute_mapping

    m = """
ex:a a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ; rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/a/{Id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:p ; rr:objectMap [ rr:parentTriplesMap ex:b ] ] .
ex:b a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ; rml:referenceFormulation ql:JSONPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/b/{Id}" ] .
"""
    res = execute_mapping(spark, m, {"d.json": 'inline:[{"Id": "1"}]'})
    plan = res.triples._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
