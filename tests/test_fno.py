"""FnO registry tests: GREL string functions in object maps + the
user-extensible registration API."""

import pytest
from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.functions.fno import register_function
from rml_utils_processor_ts_spark.operators.executor import execute_mapping

DOC = '[{"id": "1", "name": "  Hello World  "}]'


def _mapping(fn_block: str) -> str:
    return f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ rr:template "http://x/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://x/v> ] ;
        rr:objectMap [ a fnml:FunctionTermMap ; fnml:functionValue [
            {fn_block}
        ] ]
    ] .
"""


def _run(spark, fn_block):
    res = execute_mapping(spark, _mapping(fn_block), {"d.json": "inline:" + DOC})
    return [r["o"] for r in res.triples.collect() if r["p"] == "http://x/v"][0]


def test_grel_upper_lower_trim(spark):
    upper = _run(
        spark,
        """rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <http://users.ugent.be/~bjdmeest/function/grel.ttl#toUpperCase> ] ] ;
           rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ]""",
    )
    assert upper == "  HELLO WORLD  "
    trimmed = _run(
        spark,
        """rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <http://users.ugent.be/~bjdmeest/function/grel.ttl#trim> ] ] ;
           rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ]""",
    )
    assert trimmed == "Hello World"


def test_grel_string_replace(spark):
    out = _run(
        spark,
        """rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <http://users.ugent.be/~bjdmeest/function/grel.ttl#string_replace> ] ] ;
           rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ] ;
           rr:predicateObjectMap [ rr:predicate <http://users.ugent.be/~bjdmeest/function/grel.ttl#p_string_find> ; rr:objectMap [ rr:constant "World" ] ] ;
           rr:predicateObjectMap [ rr:predicate <http://users.ugent.be/~bjdmeest/function/grel.ttl#p_string_replace> ; rr:objectMap [ rr:constant "Spark" ] ]""",
    )
    assert out == "  Hello Spark  "


def test_register_custom_function(spark):
    register_function(
        "http://ex.org/fn/reverse",
        lambda fn, ct: F.reverse(ct(next(iter(fn.params.values())), "value")),
    )
    out = _run(
        spark,
        """rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <http://ex.org/fn/reverse> ] ] ;
           rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "id" ] ]""",
    )
    assert out == "1"


def test_unknown_function_actionable_error(spark):
    with pytest.raises(Exception, match="register_function"):
        _run(
            spark,
            """rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <http://ex.org/fn/never-registered> ] ] ;
               rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "id" ] ]""",
        )


GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"


def _fn(name: str, params: str) -> str:
    return (
        f"rr:predicateObjectMap [ rr:predicate fno:executes ; "
        f"rr:objectMap [ rr:constant <{GREL}{name}> ] ] ;\n{params}"
    )


def test_grel_hash_title_slice(spark):
    """Round-4 registry widening: md5/sha1 hashing, title-case, and
    0-based end-exclusive slice (all pure builtins, DuckDB-portable)."""
    import hashlib

    md5 = _run(
        spark,
        _fn("string_md5", 'rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ]'),
    )
    assert md5 == hashlib.md5(b"  Hello World  ").hexdigest()
    sha1 = _run(
        spark,
        _fn("string_sha1", 'rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ]'),
    )
    assert sha1 == hashlib.sha1(b"  Hello World  ").hexdigest()
    title = _run(
        spark,
        _fn("toTitlecase", 'rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rr:constant "hello world" ] ]'),
    )
    assert title == "Hello World"
    sl = _run(
        spark,
        _fn(
            "string_slice",
            'rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rr:constant "abcdefgh" ] ] ;\n'
            f'rr:predicateObjectMap [ rr:predicate <{GREL}p_int_i_from> ; rr:objectMap [ rr:constant "2" ] ] ;\n'
            f'rr:predicateObjectMap [ rr:predicate <{GREL}p_int_i_opt_to> ; rr:objectMap [ rr:constant "5" ] ]',
        ),
    )
    assert sl == "cde"  # 0-based [2, 5)


def test_grel_predicates_compose_with_truecondition(spark):
    """string_contains / boolean_not return boolean Columns composable
    inside trueCondition — rows failing the condition emit no triple."""
    doc = '[{"id": "1", "name": "alpha main"}, {"id": "2", "name": "beta"}]'
    mapping = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ rr:template "http://x/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://x/v> ] ;
        rr:objectMap [ a fnml:FunctionTermMap ; fnml:functionValue [
            rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant idlab-fn:trueCondition ] ] ;
            rr:predicateObjectMap [ rr:predicate idlab-fn:strBoolean ; rr:objectMap [ fnml:functionValue [
                rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <{GREL}string_contains> ] ] ;
                rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "name" ] ] ;
                rr:predicateObjectMap [ rr:predicate <{GREL}string_sub> ; rr:objectMap [ rr:constant "main" ] ]
            ] ] ] ;
            rr:predicateObjectMap [ rr:predicate idlab-fn:str ; rr:objectMap [ rml:reference "name" ] ]
        ] ]
    ] .
"""
    res = execute_mapping(spark, mapping, {"d.json": "inline:" + doc})
    objs = {r["o"] for r in res.triples.collect() if r["p"] == "http://x/v"}
    assert objs == {"alpha main"}


def test_idlab_slugify(spark):
    out = _run(
        spark,
        "rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant idlab-fn:slugify ] ] ;\n"
        'rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rr:constant "  Héllo,  World! " ] ]',
    )
    assert out == "h-llo-world"


def test_w3id_idlab_namespace_accepted(spark):
    """The reference's voc.ts + fixtures use the w3id idlab-fn namespace
    (https://w3id.org/imec/idlab/function#) while its README uses the
    legacy example.com form — mappings written with EITHER must parse
    to the same canonical functions (conditional subject works, CDC
    stateful detection fires)."""
    from rml_utils_processor_ts_spark.plans.rml_parser import parse_mapping
    from rml_utils_processor_ts_spark.plans import voc
    from rml_utils_processor_ts_spark.operators.terms import stateful_subject_spec

    w3id = "https://w3id.org/imec/idlab/function#"
    mapping = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ a rr:FunctionTermMap ; fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes ;
            rr:objectMap [ rr:constant <{w3id}explicitCreate> ] ] ;
        rr:predicateObjectMap [ rr:predicate <{w3id}iri> ;
            rr:objectMap [ rr:template "http://x/{{id}}" ] ] ;
        rr:predicateObjectMap [ rr:predicate <{w3id}state> ;
            rr:objectMap [ rr:constant "/tmp/st_w3id" ] ]
    ] ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "name" ] ] .
"""
    plan = parse_mapping(mapping, {"d.json": 'inline:[{"id": "1", "name": "A"}]'})
    fn = plan.triples_maps[0].subject_map.term_map.function
    assert fn.function_iri == voc.IDLAB_EXPLICIT_CREATE  # canonicalized
    assert voc.IDLAB_IRI in fn.params and voc.IDLAB_STATE in fn.params
    assert stateful_subject_spec(plan.triples_maps[0].subject_map.term_map) is not None

    # pure functions through the executor too
    mapping2 = f"""
ex:m2 a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ rr:template "http://x/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://x/v> ] ;
        rr:objectMap [ a fnml:FunctionTermMap ; fnml:functionValue [
            rr:predicateObjectMap [ rr:predicate fno:executes ;
                rr:objectMap [ rr:constant <{w3id}trueCondition> ] ] ;
            rr:predicateObjectMap [ rr:predicate <{w3id}strBoolean> ;
                rr:objectMap [ rr:constant "true" ] ] ;
            rr:predicateObjectMap [ rr:predicate <{w3id}str> ;
                rr:objectMap [ rml:reference "name" ] ]
        ] ] ] .
"""
    res = execute_mapping(spark, mapping2, {"d.json": 'inline:[{"id": "1", "name": "A"}]'})
    assert {r["o"] for r in res.triples.collect() if r["p"] == "http://x/v"} == {"A"}


def test_vocabulary_covers_reference_inventory():
    """Every term the reference's voc.ts declares
    (/root/reference/src/voc.ts — the complete IRI inventory its
    wrapper and rewriter understand) must exist in our voc module,
    directly or via namespace canonicalization — a missing term means a
    mapping feature the engine silently can't see."""
    import os
    import re

    from rml_utils_processor_ts_spark.plans import voc

    # the reference checkout sits next to this repository
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    voc_ts = os.path.join(os.path.dirname(repo), "reference", "src", "voc.ts")
    if not os.path.exists(voc_ts):
        pytest.skip(f"reference inventory {voc_ts} is absent; plans/voc.py is the only copy here")
    src = open(voc_ts).read()
    ours = {v for v in vars(voc).values() if isinstance(v, str)}
    blocks = re.findall(
        r"createUriAndTermNamespace\(\s*\"([^\"]+)\",([^;]*)\)", src, re.DOTALL
    )
    assert len(blocks) >= 12
    missing = []
    for ns, body in blocks:
        terms = re.findall(r'"([^"]+)"', body)
        for term in terms:
            iri = voc.canonical_function_iri(ns + term)
            # rr:dataType is the fixtures' camel variant of rr:datatype;
            # both spellings are parsed (voc.RR_DATATYPE_CAMEL)
            if iri in ours:
                continue
            # namespace-prefix membership: our constants may join the
            # namespace constant with the local name at use sites
            if ns in ours and any(v == ns + term for v in ours):
                continue
            missing.append(iri)
    assert missing == [], f"reference vocabulary terms without a counterpart: {missing}"


GREL = "http://users.ugent.be/~bjdmeest/function/grel.ttl#"
NUM_DOC = '[{"id": "1", "x": "3.7", "neg": "-2.3", "ts": "2024-03-05 14:30:00"}]'


def _run_num(spark, fn_block):
    from rml_utils_processor_ts_spark.operators.executor import execute_mapping as _em

    doc = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ rr:template "http://x/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://x/v> ] ;
        rr:objectMap [ a fnml:FunctionTermMap ; fnml:functionValue [
            {fn_block}
        ] ]
    ] .
"""
    res = _em(spark, doc, {"d.json": "inline:" + NUM_DOC})
    return [r["o"] for r in res.triples.collect() if r["p"] == "http://x/v"][0]


def test_grel_math_functions(spark):
    def block(fn, param="x"):
        return (
            f"""rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <{GREL}{fn}> ] ] ;
               rr:predicateObjectMap [ rr:predicate <{GREL}p_dec_n> ; rr:objectMap [ rml:reference "{param}" ] ]"""
        )

    assert _run_num(spark, block("math_floor")) == "3"
    assert _run_num(spark, block("math_ceil")) == "4"
    assert _run_num(spark, block("math_round")) == "4"
    assert _run_num(spark, block("math_floor", "neg")) == "-3"


def test_grel_math_round_and_abs_semantics(spark):
    """GREL round is Java Math.round = floor(x + 0.5), so round(-2.5)
    is -2 (Spark's HALF_UP would say -3); abs renders integral results
    without the '.0' suffix, same contract as floor/ceil/round, while
    fractional results keep their decimals (r5 VERDICT #3 / ADVICE)."""
    from rml_utils_processor_ts_spark.operators.executor import execute_mapping as _em

    doc = '[{"id": "1", "a": "-2.5", "b": "2.5", "c": "-3", "d": "3.5", "e": "-2.7"}]'

    def run(fn, param):
        fn_block = (
            f"""rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <{GREL}{fn}> ] ] ;
               rr:predicateObjectMap [ rr:predicate <{GREL}p_dec_n> ; rr:objectMap [ rml:reference "{param}" ] ]"""
        )
        mapping = f"""
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "d.json" ; rml:iterator "$.[*]" ;
        rml:referenceFormulation ql:JSONPath ] ;
    rr:subjectMap [ rr:template "http://x/{{id}}" ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://x/v> ] ;
        rr:objectMap [ a fnml:FunctionTermMap ; fnml:functionValue [
            {fn_block}
        ] ]
    ] .
"""
        res = _em(spark, mapping, {"d.json": "inline:" + doc})
        return [r["o"] for r in res.triples.collect() if r["p"] == "http://x/v"][0]

    assert run("math_round", "a") == "-2"   # Math.round(-2.5) = -2
    assert run("math_round", "b") == "3"
    assert run("math_abs", "c") == "3"      # integral: no ".0" leak
    assert run("math_abs", "d") == "3.5"    # fractional keeps decimals
    assert run("math_abs", "e") == "2.7"


def test_grel_date_format(spark):
    fn_block = (
        f"""rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant <{GREL}date_formatDate> ] ] ;
           rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "ts" ] ] ;
           rr:predicateObjectMap [ rr:predicate <{GREL}p_string_pattern> ; rr:objectMap [ rr:constant "yyyy/MM/dd HH:mm" ] ]"""
    )
    assert _run_num(spark, fn_block) == "2024/03/05 14:30"
