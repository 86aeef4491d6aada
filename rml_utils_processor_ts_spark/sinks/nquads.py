"""Deterministic N-Quads / N-Triples serialization (SURVEY.md §2.B8).

The reference emits N-Quads text per target via the Java engine and
concatenates per-target temp files (/root/reference/src/rml/rml.ts:446-463).
Spark-native: each quad row formats to one line with builtin expressions
(whole-stage codegen, no Python), and the writer range-partitions by
subject + sorts within partitions so the same input always produces the
same bytes in the same file order — determinism is a correctness
requirement for the byte-identical export invariant, not a nicety.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# C0 control chars with no single-char N-Triples escape: canonical
# N-Triples requires \u00XX for these (the \n \r \t trio has its own)
_CTRL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


def _escape_ctrl(col: Column) -> Column:
    r"""Escape residual C0 controls as \u00XX via 29 chained LITERAL
    StringReplace expressions. Why not the alternatives, both measured:
    a 29-deep regexp_replace chain blows the janino method-size limit
    (per-replace regex state) and drops the projection to interpreted;
    a split+transform tokenizer is a higher-order function, which is
    CodegenFallback and ALSO evicts the whole projection from
    whole-stage codegen. Literal replaces are a few bytes of generated
    code each and keep the stage compiled; the branch containing them
    only evaluates for literals that actually hold a control char."""
    out = col
    for cp in (c for c in range(0x20) if c not in (0x09, 0x0A, 0x0D)):
        out = F.replace(out, F.lit(chr(cp)), F.lit("\\u%04X" % cp))
    return out


def _escape_literal(col: Column) -> Column:
    # N-Triples literal escaping: backslash, quote, newline, CR, tab —
    # all FIXED patterns, so literal StringReplace (no per-row regex
    # machinery; same reasoning as _escape_ctrl, r7: the regexp_replace
    # chain measured 3-4x slower over 8M literals, identical output).
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    # remaining C0 controls -> \u00XX (canonical N-Triples). The gate
    # tests the RAW column (the class excludes \t\n\r, which are the
    # only controls the chain above rewrites, so raw and escaped agree)
    # — gating on `out` re-evaluates the 5-replace chain in both the
    # predicate and the taken branch, since Spark's subexpression
    # elimination excludes CaseWhen branches.
    return F.when(col.rlike(_CTRL_CLASS), _escape_ctrl(out)).otherwise(out)


def _term(col: Column, ttype: Column, dtype: Column, lang: Column) -> Column:
    literal = F.concat(F.lit('"'), _escape_literal(col), F.lit('"'))
    literal = (
        F.when(lang.isNotNull(), F.concat(literal, F.lit("@"), lang))
        .when(
            dtype.isNotNull() & (dtype != F.lit("http://www.w3.org/2001/XMLSchema#string")),
            F.concat(literal, F.lit("^^<"), dtype, F.lit(">")),
        )
        .otherwise(literal)
    )
    return (
        F.when(ttype == "IRI", F.concat(F.lit("<"), col, F.lit(">")))
        .when(ttype == "BlankNode", F.concat(F.lit("_:"), col))
        .otherwise(literal)
    )


def _graph_term(g: Column) -> Column:
    # blank-node graph labels (legal N-Quads) carry their _: prefix in
    # the g column; IRIs can't start with "_:" (a scheme starts with a
    # letter), so the prefix is unambiguous.
    return F.when(g.startswith("_:"), g).otherwise(F.concat(F.lit("<"), g, F.lit(">")))


# The line Columns take about a thousand gateway round trips to build,
# more than the rest of a write, so each is built once per SparkContext
# (the cache key): a Column holds a reference into its context's JVM.
@functools.lru_cache(maxsize=1)
def _nquad_line(sc) -> Column:
    s = _term(F.col("s"), F.col("s_termtype"), F.lit(None), F.lit(None))
    p = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    o = _term(F.col("o"), F.col("o_termtype"), F.col("o_datatype"), F.col("o_lang"))
    base = F.concat_ws(" ", s, p, o)
    return F.when(
        F.col("g").isNotNull(),
        F.concat(base, F.lit(" "), _graph_term(F.col("g")), F.lit(" .")),
    ).otherwise(F.concat(base, F.lit(" .")))


@functools.lru_cache(maxsize=1)
def _ntriple_line(sc) -> Column:
    s = _term(F.col("s"), F.col("s_termtype"), F.lit(None), F.lit(None))
    p = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    o = _term(F.col("o"), F.col("o_termtype"), F.col("o_datatype"), F.col("o_lang"))
    return F.concat(F.concat_ws(" ", s, p, o), F.lit(" ."))


def nquad_line_column(df: DataFrame) -> Column:
    """Build the serialized N-Quads line for a triples-DataFrame row."""
    return _nquad_line(df.sparkSession.sparkContext)


def triples_to_nquad_lines(df: DataFrame) -> DataFrame:
    return df.select(nquad_line_column(df).alias("line"))


def ntriple_line_column(df: DataFrame) -> Column:
    """N-Triples line: the quad serialization minus the graph (the
    reference's IncRML configs request formats:N-Triples,
    /root/reference/test/processors.test.ts:130,169)."""
    return _ntriple_line(df.sparkSession.sparkContext)


def triples_to_ntriple_lines(df: DataFrame) -> DataFrame:
    """Distinct N-Triples lines (dropping the graph may collapse quads
    that differed only in graph — triple sets are sets)."""
    return df.select(ntriple_line_column(df).alias("line")).distinct()


def turtle_subject_lines(df: DataFrame, max_group_rows: int = 10_000) -> DataFrame:
    """Deterministic Turtle: one line per subject,
    ``<s> <p1> o1, o2 ; <p2> o3 .`` with predicates and objects in
    sorted order (the reference's IncRML configs request formats:Turtle,
    /root/reference/test/incrml.test.ts:345). Graphs don't exist in
    Turtle, so the graph column is ignored. Full IRIs, no prefix
    directives — prefix-free Turtle is valid and byte-stable. Two
    partial-aggregated shuffles ((s,p) then s); all formatting JVM-side.

    Row-size guard (r02 ADVICE): a hot subject — e.g. an LDES stream
    IRI carrying ``tree:member`` for every member — would otherwise
    collect the whole corpus into ONE aggregated row and OOM an
    executor. Subjects with more than ``max_group_rows`` triples spill
    to separate ``<s> <p> o .`` statements (still valid, deterministic
    Turtle); everything else keeps the grouped form. The spill set is
    detected with one cheap partial-aggregated count and broadcast —
    by construction it only ever holds pathological subjects."""
    s = _term(F.col("s"), F.col("s_termtype"), F.lit(None), F.lit(None))
    p = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    o = _term(F.col("o"), F.col("o_termtype"), F.col("o_datatype"), F.col("o_lang"))
    all_terms = df.select(s.alias("st"), p.alias("pt"), o.alias("ot"))
    hot = (
        all_terms.groupBy("st")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_group_rows)
        .select("st")
    )
    spilled = (
        all_terms.join(F.broadcast(hot), "st", "left_semi")
        .select(F.concat(F.concat_ws(" ", "st", "pt", "ot"), F.lit(" .")).alias("line"))
        .distinct()  # quads differing only in graph collapse, as collect_set does
    )
    terms = all_terms.join(F.broadcast(hot), "st", "left_anti")
    by_pred = terms.groupBy("st", "pt").agg(
        F.array_join(F.sort_array(F.collect_set("ot")), ", ").alias("objs")
    )
    by_subj = by_pred.groupBy("st").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.concat_ws(" ", F.col("pt"), F.col("objs")))),
            " ; ",
        ).alias("body")
    )
    grouped = by_subj.select(
        F.concat_ws(" ", F.col("st"), F.col("body")).alias("line")
    ).withColumn("line", F.concat(F.col("line"), F.lit(" .")))
    return grouped.unionByName(spilled)


def write_nquads(df: DataFrame, path: str, partitions: int = 8) -> None:
    """Byte-stable export: rows hash-partition on the quad content
    (pmod(xxhash64), a pure function of the data — unlike
    repartitionByRange, whose sampled boundaries and AQE coalescing vary
    between runs) and sort within partitions. Identical input =>
    identical bytes in identical files (SURVEY.md §4: determinism is a
    correctness requirement for the export invariant)."""
    # partition + sort on the fully serialized line: two quads equal on
    # (s,p,o,g) but differing in o_termtype/o_datatype/o_lang serialize
    # differently, so the line is the only key that makes the export
    # byte-stable for every distinct row the dedupe keeps.
    _write_lines(df.select(nquad_line_column(df).alias("value")), path, partitions)


def _write_lines(lines: DataFrame, path: str, partitions: int) -> None:
    """Byte-stable text export: hash-partition + sort on the line itself
    (pmod(xxhash64) is a pure function of the data; repartitionByRange's
    sampled boundaries vary between runs)."""
    out = lines.repartition(partitions, F.pmod(F.xxhash64("value"), F.lit(partitions))).sortWithinPartitions("value")
    out.write.mode("overwrite").text(path)


def write_ntriples(df: DataFrame, path: str, partitions: int = 8) -> None:
    _write_lines(triples_to_ntriple_lines(df).select(F.col("line").alias("value")), path, partitions)


def write_turtle(df: DataFrame, path: str, partitions: int = 8) -> None:
    _write_lines(turtle_subject_lines(df).select(F.col("line").alias("value")), path, partitions)


# rmlt:serialization -> writer (formats: IRIs, /root/reference/src/rml/incrml.ts:312)
_FORMATS = "http://www.w3.org/ns/formats/"
SERIALIZATION_WRITERS = {
    _FORMATS + "N-Quads": write_nquads,
    _FORMATS + "N-Triples": write_ntriples,
    _FORMATS + "Turtle": write_turtle,
    None: write_nquads,  # default output format
}


def write_serialized(df: DataFrame, path: str, serialization: str | None, partitions: int = 8) -> None:
    """Write a triples frame in the requested rmlt:serialization."""
    writer = SERIALIZATION_WRITERS.get(serialization)
    if writer is None:
        raise ValueError(f"unsupported rmlt:serialization {serialization!r}")
    writer(df, path, partitions)


# --------------------------------------------------------------------------
# the inverse direction: N-Quads lines -> triple frame (round 5)
# --------------------------------------------------------------------------

_NQ_PATTERN = (
    r'^\s*(?:<([^>]*)>|(_:\S+))'            # 1 subject IRI | 2 subject bnode
    r'\s+<([^>]*)>'                          # 3 predicate IRI
    r'\s+(?:<([^>]*)>|(_:\S+)|'             # 4 object IRI | 5 object bnode
    r'"((?:[^"\\]|\\.)*)"'                # 6 literal body (escaped)
    r'(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^<([^>]*)>)?)'  # 7 lang | 8 datatype
    r'\s*(?:(?:<([^>]*)>|(_:\S+))\s*)?\.\s*$'  # 9 graph IRI | 10 graph bnode
)


# every N-Triples escape, longest-match first: \u runs (surrogate PAIRS
# must decode as ONE unhex+decode call, so consecutive \u escapes merge
# into a single token), \UXXXXXXXX, then the single-char ECHAR set.
# Matching consumes left-to-right without overlap, which is what makes
# one pass correct: in "\\u0041" the escaped backslash matches first and
# "u0041" stays data — the ordering bug class that plagues sequential
# regexp_replace chains (escape-then-restore sentinels colliding with
# DECODED characters) cannot occur.
_ESCAPE_RX = (
    "\\\\(?:u[0-9A-Fa-f]{4}(?:\\\\u[0-9A-Fa-f]{4})*"
    "|U[0-9A-Fa-f]{8}"
    "|[tbnrf\"'\\\\])"
)
_BIG = 2_147_483_647


def _unescape_literal(col: Column) -> Column:
    r"""Inverse of _escape_literal, extended to the full N-Triples escape
    grammar external conformant dumps use: ECHAR (\t \b \n \r \f \" \'
    \\) and UCHAR (\uXXXX incl. surrogate pairs, \UXXXXXXXX). Single
    tokenization pass, pure Column: one regex wraps every escape in
    \x01..\x02 markers, one split, one transform decoding each token —
    UCHAR hex via unhex + decode('UTF-16BE') (one of the few charsets
    Spark's decode() accepts; \U code points convert to UTF-16 code
    units with surrogate math). Decoded output characters are never
    re-scanned, so sentinel collisions are impossible by construction.
    A raw \x01 in the input data (legal, if bizarre) survives: tokens
    not shaped like a wrapped escape restore their separator. Gated on
    one contains() so escape-free literals pay a single scan.

    Codegen exception, measured (tools/bench_unescape.py, 4M lines,
    local[32]): transform() is a higher-order function (CodegenFallback)
    — the repo rule says avoid it — but the contains() gate means the
    HOF branch only EVALUATES for backslash-bearing literals, and the
    full reader on escape-free data runs at the identity-stub ceiling
    (3.38 s vs 3.46 s stubbed, i.e. 0% presence overhead, ~1.2M
    lines/s); with 50% of literals escaped the decode path costs +18%.
    This is a re-ingest path, not the export hot path; the bounded
    F.replace-cascade alternative cannot express UCHAR surrogate math
    without a second regex pass over every row, which costs MORE on the
    dominant escape-free corpus. Keeping the HOF is the measured win."""
    marked = F.regexp_replace(col, _ESCAPE_RX, "\x01$0\x02")
    parts = F.split(marked, "\x01")

    def fix(t: Column, i: Column) -> Column:
        body = F.substring_index(t, "\x02", 1)  # the escape, incl. backslash
        rest = F.substring(t, F.length(body) + 2, F.lit(_BIG))
        kind = F.substring(body, 2, 1)  # char after the backslash
        # \u run: strip the \u separators -> UTF-16BE code-unit hex
        u16 = F.decode(F.unhex(F.regexp_replace(body, r"\\u", "")), "UTF-16BE")
        # \U: code point -> UTF-16 unit(s) arithmetically
        cp = F.conv(F.substring(body, 3, 8), 16, 10).cast("long")
        bmp = F.lpad(F.conv(cp.cast("string"), 10, 16), 4, "0")
        hi = F.conv((F.lit(0xD800) + F.shiftright(cp - 0x10000, 10)).cast("string"), 10, 16)
        lo = F.conv((F.lit(0xDC00) + F.pmod(cp - 0x10000, F.lit(1024))).cast("string"), 10, 16)
        u32 = F.decode(F.unhex(F.when(cp < 0x10000, bmp).otherwise(F.concat(hi, lo))), "UTF-16BE")
        single = (
            F.when(kind == "n", F.lit("\n"))
            .when(kind == "t", F.lit("\t"))
            .when(kind == "r", F.lit("\r"))
            .when(kind == "b", F.lit("\x08"))
            .when(kind == "f", F.lit("\x0c"))
            .otherwise(kind)  # \" \' \\ decode to the char itself
        )
        decoded = (
            F.when(kind == "u", u16).when(kind == "U", u32).otherwise(single)
        )
        return (
            F.when(i == F.lit(0), t)
            .when(
                # not a wrapped escape (raw \x01 in data): restore it
                ~t.contains("\x02") | (F.substring(t, 1, 1) != "\\"),
                F.concat(F.lit("\x01"), t),
            )
            .otherwise(F.concat(decoded, rest))
        )

    unescaped = F.array_join(F.transform(parts, fix), "")
    return F.when(col.contains("\\"), unescaped).otherwise(col)


def parse_nquad_lines(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """N-Quads lines -> the executor's triple frame (the exact inverse
    of :func:`triples_to_nquad_lines`): re-ingest an exported graph, or
    any external N-Quads/N-Triples dump, as a queryable DataFrame.

    Pure Column regex extraction - no UDFs, scales as a line scan.
    Comment lines (#...) and blank lines drop; a malformed line parses
    to null subject/predicate, which the trailing filter drops (count
    input vs output lines if strictness is needed)."""
    c = F.col(line_col)

    def grp(i: int) -> Column:
        g = F.regexp_extract(c, _NQ_PATTERN, i)
        return F.when(g == "", F.lit(None)).otherwise(g)

    s_iri, s_bn = grp(1), grp(2)
    o_iri, o_bn = grp(4), grp(5)
    o_lit = F.regexp_extract(c, _NQ_PATTERN, 6)
    matched = s_iri.isNotNull() | s_bn.isNotNull()
    is_lit = o_iri.isNull() & o_bn.isNull() & matched
    return (
        lines.filter(~F.trim(c).startswith("#") & (F.trim(c) != ""))
        .select(
            F.coalesce(s_iri, F.regexp_replace(s_bn, "^_:", "")).alias("s"),
            F.when(s_bn.isNotNull(), "BlankNode").otherwise("IRI").alias("s_termtype"),
            grp(3).alias("p"),
            F.coalesce(
                o_iri,
                F.regexp_replace(o_bn, "^_:", ""),
                F.when(is_lit, _unescape_literal(o_lit)),
            ).alias("o"),
            F.when(o_iri.isNotNull(), "IRI")
            .when(o_bn.isNotNull(), "BlankNode")
            .otherwise("Literal")
            .alias("o_termtype"),
            grp(8).alias("o_datatype"),
            grp(7).alias("o_lang"),
            # blank-node graph labels (legal N-Quads) keep their _:
            # prefix in g, matching _graph_term's writer convention
            F.coalesce(grp(9), grp(10)).alias("g"),
            F.lit("default").alias("target_id"),
        )
        .filter(F.col("s").isNotNull() & F.col("p").isNotNull())
    )


def read_nquads(spark, path: str) -> DataFrame:
    """Read an N-Quads (or N-Triples) file/directory into the triple
    frame. The sink's own output round-trips exactly
    (tests/test_serialization.py::test_nquads_round_trip)."""
    return parse_nquad_lines(spark.read.text(path), "value")


def trig_graph_lines(df: DataFrame, max_group_rows: int = 10_000) -> DataFrame:
    """Deterministic TriG: one line per (graph, subject) —
    ``<g> { <s> <p1> o1, o2 ; <p2> o3 . }`` — with default-graph
    subjects as bare Turtle statements. TriG permits a graph label in
    multiple blocks (the dataset is the union), which is what makes the
    format line-parallel: every line is a self-contained block, so the
    byte-stable hash-partition + sort writer applies unchanged.
    Same hot-subject spill guard as turtle_subject_lines: a subject
    with more than ``max_group_rows`` triples in one graph emits
    per-triple blocks instead of one giant aggregated row."""
    s = _term(F.col("s"), F.col("s_termtype"), F.lit(None), F.lit(None))
    p = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    o = _term(F.col("o"), F.col("o_termtype"), F.col("o_datatype"), F.col("o_lang"))
    g = F.coalesce(F.col("g"), F.lit(""))
    all_terms = df.select(g.alias("gt"), s.alias("st"), p.alias("pt"), o.alias("ot"))

    def wrap(stmt: Column) -> Column:
        return F.when(
            F.col("gt") != "",
            F.concat(F.lit("<"), F.col("gt"), F.lit("> { "), stmt, F.lit(" }")),
        ).otherwise(stmt)

    hot = (
        all_terms.groupBy("gt", "st")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_group_rows)
        .select("gt", "st")
    )
    spilled = (
        all_terms.join(F.broadcast(hot), ["gt", "st"], "left_semi")
        .select("gt", F.concat(F.concat_ws(" ", "st", "pt", "ot"), F.lit(" .")).alias("stmt"))
        .distinct()
        .select(wrap(F.col("stmt")).alias("line"))
    )
    terms = all_terms.join(F.broadcast(hot), ["gt", "st"], "left_anti")
    by_pred = terms.groupBy("gt", "st", "pt").agg(
        F.array_join(F.sort_array(F.collect_set("ot")), ", ").alias("objs")
    )
    by_subj = by_pred.groupBy("gt", "st").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.concat_ws(" ", F.col("pt"), F.col("objs")))),
            " ; ",
        ).alias("body")
    )
    grouped = by_subj.select(
        "gt",
        F.concat(F.concat_ws(" ", F.col("st"), F.col("body")), F.lit(" .")).alias("stmt"),
    ).select(wrap(F.col("stmt")).alias("line"))
    return grouped.unionByName(spilled)


def write_trig(df: DataFrame, path: str, partitions: int = 8) -> None:
    _write_lines(trig_graph_lines(df).select(F.col("line").alias("value")), path, partitions)


SERIALIZATION_WRITERS[_FORMATS + "TriG"] = write_trig


def jsonld_subject_lines(df: DataFrame) -> DataFrame:
    """Newline-delimited JSON-LD: one compact JSON object per (graph,
    subject) — ``{"@id": s, "<p>": [values...]}``, wrapped for named
    graphs in the spec's graph-object shape
    ``{"@id": g, "@graph": [node]}``. IRI objects serialize as
    ``{"@id": iri}``, blank nodes as ``{"@id": "_:b"}``, language
    literals as ``{"@value": v, "@language": l}``, typed literals as
    ``{"@value": v, "@type": dt}``, and plain literals as bare strings.
    The shape downstream ML pipelines ingest directly (one entity per
    line); deterministic: predicate map keys sort via sorted collect,
    object arrays sort lexicographically. Built entirely from
    to_json/map_from_entries Columns — no UDFs, two partial-aggregated
    shuffles ((g,s,p) then (g,s)), same skew profile as the Turtle
    sink."""
    obj = (
        F.when(F.col("o_termtype") == "IRI",
               F.to_json(F.struct(F.col("o").alias("@id"))))
        .when(F.col("o_termtype") == "BlankNode",
              F.to_json(F.struct(F.concat(F.lit("_:"), F.col("o")).alias("@id"))))
        .when(F.col("o_lang").isNotNull(),
              F.to_json(F.struct(F.col("o").alias("@value"), F.col("o_lang").alias("@language"))))
        .when(F.col("o_datatype").isNotNull(),
              F.to_json(F.struct(F.col("o").alias("@value"), F.col("o_datatype").alias("@type"))))
        .otherwise(F.to_json(F.struct(F.col("o").alias("@value"))))
    )
    subj = F.when(
        F.col("s_termtype") == "BlankNode", F.concat(F.lit("_:"), F.col("s"))
    ).otherwise(F.col("s"))
    by_pred = (
        df.withColumn("s", subj)
        .groupBy("g", "s", "p")
        .agg(F.array_join(F.sort_array(F.collect_set(obj)), ",").alias("vals"))
        .select(
            "g", "s",
            F.concat(F.to_json(F.struct(F.col("p").alias("k"))),
                     F.lit(":["), F.col("vals"), F.lit("]")).alias("entry"),
        )
        # to_json wraps as {"k":"<p>"} — strip to just the quoted key
        .withColumn("entry", F.regexp_replace(F.col("entry"), r'^\{"k":("(?:[^"\\]|\\.)*")\}', "$1"))
    )

    def jstr(c: Column) -> Column:
        # JSON-escape a bare string value via to_json, stripping the wrapper
        return F.regexp_replace(F.to_json(F.struct(c.alias("v"))), r'^\{"v":|\}$', "")

    node = (
        by_pred.groupBy("g", "s")
        .agg(F.array_join(F.sort_array(F.collect_list("entry")), ",").alias("body"))
        .select(
            "g",
            F.concat(
                F.lit('{"@id":'), jstr(F.col("s")), F.lit(","), F.col("body"), F.lit("}")
            ).alias("node"),
        )
    )
    # named graphs take the JSON-LD spec shape — a graph object whose
    # @id is the graph name and whose @graph holds the node (ADVICE r5:
    # "@graph": "<iri>" on the node itself is invalid JSON-LD; @graph
    # takes node objects, the name lives on the enclosing node's @id)
    return node.select(
        F.when(
            F.col("g").isNotNull(),
            F.concat(F.lit('{"@id":'), jstr(F.col("g")),
                     F.lit(',"@graph":['), F.col("node"), F.lit("]}")),
        ).otherwise(F.col("node")).alias("line")
    )


def write_jsonld_lines(df: DataFrame, path: str, partitions: int = 8) -> None:
    _write_lines(jsonld_subject_lines(df).select(F.col("line").alias("value")), path, partitions)
