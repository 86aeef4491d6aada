"""Round-9 ADVICE regressions: Clark-name handling on the XML slow
path (attribute refs + the extension walker) and YARRRML po-level
graph/target parsing details."""

import xml.etree.ElementTree as ET

from rml_utils_processor_ts_spark.plans.yarrrml import yarrrml_to_plan
from rml_utils_processor_ts_spark.sources.registry import (
    _xml_iter_records,
    ref_column_name,
)
from rml_utils_processor_ts_spark.sources.xpath_ext import (
    _split_predicates,
    _split_steps,
    expand_prefixes,
    findall_ext,
)

NS = {"a": "http://a.example/ns/"}
NS_DOC = (
    "<r xmlns:a='http://a.example/ns/'>"
    "<a:item a:id='1'><a:child a:id='c1'>xray</a:child></a:item>"
    "<a:item a:id='2'><a:child a:id='c2'>plain</a:child></a:item>"
    "<a:g><a:item a:id='g1'>first</a:item><a:item a:id='g2'>second</a:item></a:g>"
    "</r>"
)


# ---- ADVICE #1: Clark-form attribute steps must not crash the UDF ---------


def test_clark_attr_ref_resolves():
    """ref 'a:child/@a:id' with declared namespaces expands to
    '{uri}child/@{uri}id'; before the fix the attr-step regex rejected
    the Clark name and ElementTree raised raw KeyError('@') inside the
    pandas UDF, failing the Spark task on a valid RML-IO mapping."""
    recs = _xml_iter_records(NS_DOC, "//a:item", ["a:child/@a:id", "@a:id"], NS)
    got = [(r[ref_column_name("@a:id")], r[ref_column_name("a:child/@a:id")]) for r in recs]
    assert got[:2] == [("1", "c1"), ("2", "c2")]


def test_xml_find_first_keyerror_fallback_returns_none():
    """Residual Clark/prefixed syntax ElementTree rejects with raw
    KeyError must fall through the walker ladder, never escape."""
    from rml_utils_processor_ts_spark.sources.registry import _xml_find_first

    el = ET.fromstring("<r><c id='1'/></r>")
    # ET's tokenizer raises KeyError for a bare trailing-@ step
    assert _xml_find_first(el, "c/@") is None


# ---- ADVICE #2: Clark names are opaque to the walker's splitters ----------


def test_split_steps_treats_clark_spans_as_opaque():
    p = expand_prefixes("//a:g/a:item", NS)
    assert p == "//{http://a.example/ns/}g/{http://a.example/ns/}item"
    steps = _split_steps(".//" + p[2:])
    assert [s for _, s in steps] == [
        "{http://a.example/ns/}g",
        "{http://a.example/ns/}item",
    ]


def test_split_predicates_clark_head():
    head, preds = _split_predicates("{http://a/}item[position()=1]")
    assert head == "{http://a/}item"
    assert preds == ["position()=1"]
    # IPv6 namespace URIs legally contain brackets and colons
    head, preds = _split_predicates("{http://[::1]/ns}x[1]")
    assert head == "{http://[::1]/ns}x"
    assert preds == ["1"]


def test_walker_clark_contains_and_position():
    """Declared-namespace paths that need the extension walker
    (contains(), position()) silently returned [] before the fix —
    _split_steps split on the '/' inside the namespace URI."""
    root = ET.fromstring(NS_DOC)
    p1 = expand_prefixes("//a:item[contains(text(), 'x')]", NS)
    got = findall_ext(root, ".//" + p1[2:])
    assert [e.get("{http://a.example/ns/}id") for e in got] == ["1"]
    p2 = expand_prefixes("//a:g/a:item[position()=1]", NS)
    got = findall_ext(root, ".//" + p2[2:])
    assert [e.text for e in got] == ["first"]


def test_iter_records_namespaced_walker_iterator():
    """End-to-end through _xml_iter_records: a namespaced iterator that
    ElementTree rejects (function predicate) must route to the walker
    and still match by namespace."""
    recs = _xml_iter_records(
        NS_DOC, "//a:item[contains(text(), 'first')]", ["."], NS
    )
    assert [r[ref_column_name(".")] for r in recs] == ["first"]


# ---- ADVICE #3: YARRRML po-level 'g' shortcut + target dedup ---------------


def test_yarrrml_po_graph_g_shortcut():
    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - p: ex:name
              o: $(name)
              g: ex:gA
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id": "1", "name": "x"}]'})
    poms = plan.triples_maps[0].predicate_object_maps
    assert len(poms) == 1
    assert poms[0].graph_map is not None
    assert poms[0].graph_map.constant == "http://example.org/gA"


def test_yarrrml_duplicate_target_ids_dedup():
    """A target id listed at BOTH po level and inside the object dict is
    one routing declaration — duplicated POM copies produced duplicate
    quads under PlanExecutor(dedupe=False)."""
    doc = """
prefixes:
    ex: "http://example.org/"
targets:
    t1: ["out/a.nq~void", "nquads"]
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - p: ex:name
              o:
                  value: $(name)
                  targets: [t1]
              targets: [t1]
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id": "1", "name": "x"}]'})
    poms = plan.triples_maps[0].predicate_object_maps
    assert len(poms) == 1
    assert poms[0].logical_target.target_id == "urn:yarrrml:target:t1"


# ---- YARRRML residual long tail (round 9, VERDICT task #3) -----------------


def test_yarrrml_dynamic_language_map():
    """$(col)~lang with a REFERENCE compiles to rml:languageMap (the
    constant en~lang shorthand stays static rr:language)."""
    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - [ex:name, $(name), $(lang)~lang]
            - [ex:label, $(name), en~lang]
            - p: ex:alt
              o:
                  value: $(name)
                  language: $(lang)
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id":"1","name":"x","lang":"fr"}]'})
    poms = plan.triples_maps[0].predicate_object_maps
    assert poms[0].object.language_map is not None
    assert poms[0].object.language_map.reference == "lang"
    assert poms[0].object.language is None
    assert poms[1].object.language == "en"
    assert poms[1].object.language_map is None
    assert poms[2].object.language_map.reference == "lang"


def test_yarrrml_dynamic_language_executes(spark):
    """End-to-end: the data-derived tag lands in o_lang; an ill-formed
    tag drops the quad (R2RML data error)."""
    from rml_utils_processor_ts_spark.operators.executor import PlanExecutor

    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - [ex:name, $(name), $(lang)~lang]
"""
    recs = '[{"id":"1","name":"x","lang":"fr"},{"id":"2","name":"y","lang":"not a tag"}]'
    plan = yarrrml_to_plan(doc, {"d.json": "inline:" + recs})
    rows = {(r.s, r.o, r.o_lang) for r in PlanExecutor(spark).execute(plan).triples.collect()}
    assert rows == {("http://example.org/1", "x", "fr")}


def test_yarrrml_function_object_with_annotations():
    """FnO function object in po value position with datatype/language/
    type annotations on the same dict."""
    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - p: ex:up
              o:
                  function: grel:toUpperCase
                  parameters: [[value, $(name)]]
                  datatype: xsd:string
            - p: ex:iri
              o:
                  function: grel:toUpperCase
                  parameters: [[value, $(name)]]
                  type: iri
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id":"1","name":"x"}]'})
    poms = plan.triples_maps[0].predicate_object_maps
    assert poms[0].object.function is not None
    assert poms[0].object.datatype == "http://www.w3.org/2001/XMLSchema#string"
    assert poms[1].object.function is not None
    assert poms[1].object.term_type == "IRI"


def test_yarrrml_document_base():
    """Document-level base: relative subjects/predicates/graphs/typed
    objects resolve against it."""
    doc = """
base: "http://base.example/"
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: person/$(id)
        graph: g1
        po:
            - [a, Person]
            - [knows, $(id)]
            - p: ref
              o:
                  value: other/$(id)
                  type: iri
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id":"1"}]'})
    tm = plan.triples_maps[0]
    assert tm.subject_map.term_map.template == "http://base.example/person/{id}"
    assert tm.subject_map.graph_map.constant == "http://base.example/g1"
    poms = tm.predicate_object_maps
    assert poms[0].object.constant == "http://base.example/Person"
    assert poms[1].predicate.constant == "http://base.example/knows"
    assert poms[2].object.template == "http://base.example/other/{id}"
    # absolute IRIs untouched
    assert poms[0].predicate.constant.endswith("#type")


def test_yarrrml_external_references():
    """$(_param) external references substitute from caller parameters;
    unknown externals stay (and null out as data references)."""
    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(_prefix)/$(id)
        po:
            - [ex:name, "$(_label) $(name)"]
            - [ex:keep, $(_unknown)]
"""
    plan = yarrrml_to_plan(
        doc,
        {"d.json": 'inline:[{"id":"1","name":"x"}]'},
        externals={"prefix": "person", "label": "L"},
    )
    tm = plan.triples_maps[0]
    assert tm.subject_map.term_map.template == "http://example.org/person/{id}"
    assert tm.predicate_object_maps[0].object.template == "L {name}"
    assert tm.predicate_object_maps[1].object.reference == "_unknown"


def test_yarrrml_dynamic_language_roundtrip():
    """languageMap survives plan -> RML Turtle -> plan hash-equal."""
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.plans.serializer import plan_to_rml

    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - [ex:name, $(name), $(lang)~lang]
"""
    bindings = {"d.json": 'inline:[{"id":"1","name":"x","lang":"fr"}]'}
    plan = yarrrml_to_plan(doc, bindings)
    ttl = plan_to_rml(plan)
    plan2 = parse_mapping(ttl, bindings)
    assert plan.plan_hash() == plan2.plan_hash()


# ---------------------------------------------------------------------------
# JSONPath: recursive-descent / dotted iterators fell into the key fast
# path and silently yielded zero records (r9)
# ---------------------------------------------------------------------------


def test_json_iterator_recursive_descent_and_dotted():
    import json as _json

    from rml_utils_processor_ts_spark.sources.registry import _json_iter_records

    doc = _json.dumps(
        {
            "a": {"items": [{"id": "1", "name": "x"}, {"id": "2", "name": "y"}]},
            "b": {"items": [{"id": "3", "name": "z"}]},
        }
    )
    recs = _json_iter_records(doc, "$..items[*]", ["id"])
    assert sorted(r[next(iter(r))] for r in recs) == ["1", "2", "3"]
    recs = _json_iter_records(doc, "$.a.items[*]", ["name"])
    assert sorted(r[next(iter(r))] for r in recs) == ["x", "y"]
    # plain top-level-key form keeps the stdlib fast branch
    doc2 = _json.dumps({"items": [{"id": "9"}]})
    assert [r[next(iter(r))] for r in _json_iter_records(doc2, "$.items[*]", ["id"])] == ["9"]


def test_rml_jsonpath_recursive_descent_mapping(spark):
    """End-to-end: an RML mapping whose iterator uses $.. recursive
    descent produces triples from every nested match."""
    from rml_utils_processor_ts_spark.operators.executor import execute_mapping

    data = (
        '{"east": {"items": [{"id": "1"}, {"id": "2"}]},'
        ' "west": {"items": [{"id": "3"}]}}'
    )
    data = data.replace('"', '\\"')
    mapping = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ a rml:LogicalSource ;
        rml:source "inline:{data}" ;
        rml:iterator "$..items[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ a rr:SubjectMap ; rr:template "http://example.org/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "id" ; rr:termType rr:Literal ] ] .
"""
    triples = execute_mapping(spark, mapping).triples
    got = sorted(r["s"] for r in triples.collect())
    assert got == [
        "http://example.org/1",
        "http://example.org/2",
        "http://example.org/3",
    ]
