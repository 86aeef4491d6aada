"""Property-based tests (hypothesis) for the mapping front-end, and
connected components on a pseudo-random graph against the union-find
oracle (naive_cc.py)."""

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from naive_cc import components as union_find_components

from rml_utils_processor_ts_spark.plans.model import parse_concat_reference
from rml_utils_processor_ts_spark.plans.turtle import Term, parse_turtle
from rml_utils_processor_ts_spark.operators.terms import template_parts

# -- Turtle literal round-trip ------------------------------------------------

literal_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters=""),
    max_size=40,
)


def _escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


@given(literal_text)
@settings(max_examples=200, deadline=None)
def test_turtle_literal_roundtrip(s):
    doc = f'@prefix ex: <http://x/> .\nex:a ex:p "{_escape(s)}" .'
    triples = parse_turtle(doc)
    assert triples[-1][2] == Term("literal", s)


# -- template compilation structure -------------------------------------------

ref_name = st.text(alphabet="abcdefgh@_.", min_size=1, max_size=8).filter(
    lambda s: "{" not in s and "}" not in s
)
lit_piece = st.text(alphabet="xyz:/-. ", min_size=1, max_size=8)


@given(st.lists(st.tuples(lit_piece, ref_name), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_template_parts_reconstruct(pieces):
    template = "".join(f"{lit}{{{ref}}}" for lit, ref in pieces)
    parts = template_parts(template)
    rebuilt = "".join(v if k == "lit" else "{" + v + "}" for k, v in parts)
    assert rebuilt == template
    refs = [v for k, v in parts if k == "ref"]
    assert refs == [ref for _, ref in pieces]


raw_lit = st.text(alphabet="xy{}\\:/. ", min_size=0, max_size=8)


def _tpl_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("{", "\\{").replace("}", "\\}")


@given(st.lists(st.tuples(raw_lit, ref_name), min_size=1, max_size=4), raw_lit)
@settings(max_examples=300, deadline=None)
def test_template_parts_escape_grammar(pieces, tail):
    """r7 escape grammar (R2RML §7.3): \\{ \\} \\\\ in the template text
    decode to literal { } \\ and never open placeholders — fuzz over
    literals CONTAINING braces/backslashes, round-tripped through the
    escaped template form."""
    template = "".join(f"{_tpl_escape(lit)}{{{ref}}}" for lit, ref in pieces) + _tpl_escape(tail)
    parts = template_parts(template)
    refs = [v for k, v in parts if k == "ref"]
    assert refs == [ref for _, ref in pieces]
    # reassemble the decoded literal stream and compare to the raw text
    decoded = []
    it = iter(parts)
    for lit, _ref in pieces:
        got = ""
        for k, v in it:
            if k == "ref":
                break
            got += v
        decoded.append(got)
    decoded.append("".join(v for k, v in it if k == "lit"))
    assert decoded == [lit for lit, _ in pieces] + [tail]


# -- concat-reference decomposition -------------------------------------------

@given(st.lists(st.tuples(st.text(alphabet="pq=&", max_size=6), ref_name), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_concat_reference_roundtrip(pieces):
    expr = " || ".join(f"'{lit}' || {ref}" for lit, ref in pieces)
    parsed = parse_concat_reference(f"({expr})")
    assert parsed is not None
    lits = [v for k, v in parsed if k == "lit"]
    refs = [v for k, v in parsed if k == "ref"]
    assert lits == [lit for lit, _ in pieces]
    assert refs == [ref for _, ref in pieces]


# -- connected components vs union-find oracle --------------------------------

def test_cc_matches_union_find_on_pseudorandom_graph(spark):
    """Deterministic pseudo-random graph (md5-driven): chains, hubs, and
    cross links; distributed CC must equal the exact union-find labels."""
    edges = []
    for i in range(600):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest()[:8], 16)
        a = f"n{h % 300:04d}"
        b = f"n{(h // 300) % 300:04d}"
        if a != b:
            edges.append((a, b))
    # a hot hub
    edges += [("hub0", f"n{i:04d}") for i in range(0, 50)]
    expected = union_find_components(edges)

    from rml_utils_processor_ts_spark.operators.cc import connected_components

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


@given(
    st.integers(min_value=1, max_value=10**13),
    st.integers(min_value=16, max_value=65536),
)
@settings(max_examples=200, deadline=None)
def test_derive_n_planes_properties(n, target):
    """Plane derivation (r4): always within clamps, monotone in n, and
    the implied bucket width lands within 2x of target when unclamped."""
    from rml_utils_processor_ts_spark.operators.similarity import derive_n_planes

    p = derive_n_planes(n, target_bucket=target)
    assert 4 <= p <= 24
    assert derive_n_planes(n * 2, target_bucket=target) >= p
    if 4 < p < 24:
        assert n / 2**p <= target  # bucket never wider than target...
        assert n / 2 ** (p - 1) > target  # ...and p is the smallest such


@given(
    st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False), min_size=8, max_size=8),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_probe_buckets_properties(vec, n_probe):
    """Multi-probe (r4): first bucket is the base signature, buckets are
    distinct, count == min(n_probe, planes+1), each flip is Hamming-1."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        _hyperplanes,
        py_bucket_of,
        py_probe_buckets,
    )

    planes = _hyperplanes(8, 6, 42)
    buckets = py_probe_buckets(vec, planes, n_probe)
    assert buckets[0] == py_bucket_of(vec, planes)
    assert len(buckets) == min(n_probe, len(planes) + 1)
    assert len(set(buckets)) == len(buckets)
    for b in buckets[1:]:
        assert sum(x != y for x, y in zip(b, buckets[0])) == 1


def _normalize_one(spark, url: str) -> str:
    from pyspark.sql import functions as F

    from rml_utils_processor_ts_spark.operators.web import normalize_url

    df = spark.createDataFrame([(url,)], "url string")
    return df.select(normalize_url(F.col("url")).alias("n")).collect()[0]["n"]


def test_normalize_url_idempotent_sample(spark):
    """normalize . normalize == normalize over a deterministic sample of
    messy URL shapes (full hypothesis-per-row would spawn a Spark job
    per example; a curated batch keeps it one job)."""
    from pyspark.sql import functions as F

    from rml_utils_processor_ts_spark.operators.web import normalize_url

    urls = [
        "HTTPS://User:PW@WWW.Ex.COM:443/a/b/?utm_source=x&q=1#f",
        "http://[2001:DB8::1]:8080/p?a=1",
        "ftp://Files.Example.ORG/x/",
        "http://ex.com",
        "http://ex.com:80",
        "https://ex.com:80/x",  # non-default port for scheme kept
        "no-scheme-at-all",
        "http://@ex.com/x",  # empty userinfo
        "http://ex.com/?",
        "http://ex.com/a//b///",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = [r["n"] for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
    df2 = spark.createDataFrame([(u,) for u in once], "url string")
    twice = [r["n"] for r in df2.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert once == twice


# -- Extended-XPath walker vs ElementTree on the SHARED subset ----------------
#
# The walker (sources/xpath_ext.py) must agree with ElementTree's findall
# wherever both support the path — predicates [@a], [@a='v'], [child],
# [child='text'], positions [n], [last()], multi-step and '//' descent —
# on arbitrary small trees. Divergence on the shared subset would mean the
# extended forms (contains()/axes/unions) are built on wrong step
# semantics.

import xml.etree.ElementTree as ET

from rml_utils_processor_ts_spark.sources.xpath_ext import findall_ext

_tag = st.sampled_from(["a", "b", "c"])
_attrval = st.sampled_from(["x", "y"])


@st.composite
def _tree(draw, depth=0):
    el = ET.Element(draw(_tag))
    if draw(st.booleans()):
        el.set("k", draw(_attrval))
    el.text = draw(st.sampled_from([None, "t1", "t2"]))
    if depth < 3:
        for child in draw(st.lists(_tree(depth=depth + 1), max_size=3)):
            el.append(child)
    return el


_shared_path = st.sampled_from([
    "a", "b", "a/b", "a/*", ".//a", ".//b/c", "a[1]", "a[2]", "a[last()]",
    "a[@k]", "a[@k='x']", "a[b]", "a[b='t1']", ".//a[@k='y']", ".//b[1]",
    "a/b[last()]", "*/c", ".//c[@k]",
])


@settings(max_examples=300, deadline=None)
@given(root=_tree(), path=_shared_path)
def test_walker_matches_elementtree_on_shared_subset(root, path):
    expected = root.findall(path)
    got = findall_ext(root, path)
    assert [id(e) for e in got] == [id(e) for e in expected], (
        ET.tostring(root), path,
        [e.tag for e in got], [e.tag for e in expected],
    )


# -- N-Quads writer/reader round-trip on adversarial literals ----------------

_literal_content = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0, max_size=60,
)


@settings(max_examples=40, deadline=None)
@given(vals=st.lists(_literal_content, min_size=1, max_size=6, unique=True))
def test_nquad_line_escape_round_trip(spark_session_for_property, vals):
    """serialize -> parse returns the exact literal for arbitrary
    unicode content (quotes, backslashes, \\n-lookalikes, emoji...).
    Exercises _escape_literal and the sentinel unescape chain."""
    from rml_utils_processor_ts_spark.sinks.nquads import (
        parse_nquad_lines,
        triples_to_nquad_lines,
    )

    spark = spark_session_for_property
    rows = [
        (f"http://s/{i}", "IRI", "http://p/x", v, "Literal", None, None, None, "default")
        for i, v in enumerate(vals)
    ]
    schema = ("s string, s_termtype string, p string, o string, o_termtype string, "
              "o_datatype string, o_lang string, g string, target_id string")
    df = spark.createDataFrame(rows, schema)
    back = parse_nquad_lines(triples_to_nquad_lines(df))
    got = {(r["s"], r["o"]) for r in back.collect()}
    assert got == {(r[0], r[3]) for r in rows}


# -- IRI-safe template encoding vs a direct Python spec ----------------------

_iri_values = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0, max_size=40,
)


def _iri_safe_spec(s: str) -> str:
    """R2RML IRI-safe, written directly: unreserved ASCII passes, code
    points >= U+00A0 (iunreserved ucschar territory minus C1 controls)
    pass raw, everything else percent-encodes its UTF-8 bytes."""
    out = []
    for ch in s:
        if ch.isascii() and (ch.isalnum() or ch in "-._~"):
            out.append(ch)
        elif ord(ch) >= 0xA0:
            out.append(ch)
        else:
            out.extend("%%%02X" % b for b in ch.encode("utf-8"))
    return "".join(out)


@settings(max_examples=40, deadline=None)
@given(vals=st.lists(_iri_values, min_size=1, max_size=8, unique=True))
def test_iri_encode_matches_python_spec(spark_session_for_property, vals):
    from pyspark.sql import functions as F

    """The codegen-safe protect-then-url_decode construction
    (functions/iri.py) equals the direct per-character definition for
    arbitrary unicode: spaces/reserved ASCII encode, iunreserved
    non-ASCII stays raw, C1 controls stay encoded, astral planes
    round-trip through the 4-byte UTF-8 sequences."""
    from rml_utils_processor_ts_spark.functions.iri import iri_encode

    spark = spark_session_for_property
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r["v"]: r["e"] for r in df.select("v", iri_encode(F.col("v")).alias("e")).collect()}
    for v in vals:
        assert got[v] == _iri_safe_spec(v), repr(v)
