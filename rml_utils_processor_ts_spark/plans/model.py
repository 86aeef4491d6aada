"""MappingPlan dataclasses — the compiled, statically-typed form of an RML
mapping document.

This is the Spark-side replacement for the reference's N3 ``Store``
surgery (``/root/reference/src/rml/rml.ts:152-274``): a mapping document
parses once, driver-side, into these dataclasses, and the executor
compiles them to DataFrame expressions. Field semantics follow the RML
vocabulary (see :mod:`.voc`) and the reference's subject-expression
precedence constant > template > reference > functionValue
(``/root/reference/src/rml/incrml.ts:172-189``).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

# BCP47-shaped language-tag production (the Turtle/R2RML LANGTAG
# grammar: alpha head, alphanumeric subtags). Shared by the parser's
# static rr:language validation (raise) and the executor's runtime
# rml:languageMap guard (drop — R2RML data-error semantics).
LANGTAG_PATTERN = r"[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*"

# one token per match: a backslash escape (R2RML §7.3 template grammar:
# ``\\`` ``\{`` ``\}`` denote literal backslash/braces) or a placeholder
_TEMPLATE_TOKEN_RE = re.compile(r"\\([\\{}])|\{([^{}]+)\}")


def template_parts(template: str) -> list[tuple[str, str]]:
    """Split 'http://ex/{@id}/x' -> [('lit','http://ex/'),('ref','@id'),('lit','/x')].

    Backslash escapes per the R2RML template grammar: ``\\{`` / ``\\}``
    are literal braces (they do NOT open a placeholder), ``\\\\`` is a
    literal backslash — so ``a\\{b\\}{c}`` yields literal ``a{b}`` then
    placeholder ``c``. A literal brace in an IRI-position template is an
    IRI-forbidden character and flows into the normal data-error drop
    (executor ``_static_iri_ok``); in literal position it is emitted raw.
    Lives here (not in operators/terms.py) so ``TermMap.references()``
    and the column compiler read templates with one grammar.
    """
    out: list[tuple[str, str]] = []
    buf: list[str] = []
    pos = 0
    for m in _TEMPLATE_TOKEN_RE.finditer(template):
        if m.start() > pos:
            buf.append(template[pos : m.start()])
        if m.group(1) is not None:
            buf.append(m.group(1))
        else:
            if buf:
                out.append(("lit", "".join(buf)))
                buf = []
            out.append(("ref", m.group(2)))
        pos = m.end()
    if pos < len(template):
        buf.append(template[pos:])
    if buf:
        out.append(("lit", "".join(buf)))
    return out


@dataclass
class TermMap:
    """One of constant | reference | template | function (exactly one set)."""

    constant: str | None = None
    constant_is_iri: bool = False
    reference: str | None = None
    template: str | None = None
    function: "FunctionCall | None" = None
    term_type: str | None = None  # 'IRI' | 'Literal' | 'BlankNode' | None
    datatype: str | None = None
    language: str | None = None
    # rml:languageMap — a data-derived language tag (newer RML spec);
    # mutually exclusive with the static rr:language string
    language_map: "TermMap | None" = None
    # rml:datatypeMap — a data-derived datatype IRI (newer RML spec);
    # mutually exclusive with the static rr:datatype
    datatype_map: "TermMap | None" = None
    # rr:inverseExpression (R2RML §7.7): a SQL hint for locating the rows
    # a generated term came from. Parsed and round-tripped for vocabulary
    # completeness; execution is a documented no-op — the DataFrame
    # engine resolves referencing-object maps with equi-joins, so the
    # reverse-lookup optimization the hint enables in SQL processors has
    # no counterpart here (RMLMapper likewise ignores it).
    inverse_expression: str | None = None

    @property
    def kind(self) -> str:
        if self.constant is not None:
            return "constant"
        if self.template is not None:
            return "template"
        if self.reference is not None:
            return "reference"
        if self.function is not None:
            return "function"
        raise ValueError("empty TermMap")

    def expression_string(self) -> str:
        """Canonical string form, used for grouping/merging TriplesMaps
        (reference precedence at src/rml/incrml.ts:172-189)."""
        if self.constant is not None:
            return self.constant
        if self.template is not None:
            return self.template
        if self.reference is not None:
            return self.reference
        if self.function is not None:
            return self.function.canonical()
        return ""

    def references(self) -> list[str]:
        """All source references this term map reads (template vars via the
        reference's regex /[^{}]+(?=})/g, src/rml/incrml.ts:443,600) —
        including a data-derived rml:languageMap's."""
        out: list[str] = []
        if self.reference is not None:
            out = decompose_reference(self.reference)
        elif self.template is not None:
            # escape-aware (r7): \{literal\} braces are not placeholders
            out = [v for k, v in template_parts(self.template) if k == "ref"]
        elif self.function is not None:
            out = self.function.references()
        if self.language_map is not None:
            out = out + self.language_map.references()
        if self.datatype_map is not None:
            out = out + self.datatype_map.references()
        return out


@dataclass
class FunctionCall:
    """An FnO function term map: fno:executes IRI + named parameters.

    Parameters are TermMaps themselves (possibly nested FunctionCalls) —
    mirrors fnml:functionValue blocks (/root/reference/src/voc.ts:68-77).
    """

    function_iri: str
    params: dict[str, "TermMap"] = field(default_factory=dict)

    def canonical(self) -> str:
        inner = ";".join(f"{k}={v.expression_string()}" for k, v in sorted(self.params.items()))
        return f"fn:{self.function_iri}({inner})"

    def references(self) -> list[str]:
        out: list[str] = []
        for p in self.params.values():
            out.extend(p.references())
        return out


@dataclass
class JoinCondition:
    """Equi-join condition of a referencing object map: child expression ==
    parent expression (idlab-fn:equal form, /root/reference/test/incrml.test.ts:150-172)."""

    child: TermMap
    parent: TermMap


@dataclass
class PredicateObjectMap:
    predicate: TermMap
    object: TermMap | None = None
    parent_triples_map: str | None = None  # referencing object map (rr:parentTriplesMap)
    join_conditions: list[JoinCondition] = field(default_factory=list)
    # YARRRML ``inversepredicates`` (front-end only): resolved by the
    # yarrrml compiler into swapped TriplesMaps / referencing POMs before
    # the plan is returned — never reaches the executor or plan_hash.
    inverse_predicate: TermMap | None = None
    # rml:logicalTarget declared on the POM or its object map (broader
    # RML-target surface than the reference's subject-map-only fixtures,
    # /root/reference/test/rml.test.ts:43-50): this POM's quads route to
    # the union of the subject-map target and this one.
    logical_target: "LogicalTarget | None" = None
    # rr:graphMap / rr:graph on the POM (R2RML §9): this POM's triples
    # go to the UNION of the subject map's graphs and this one
    graph_map: "TermMap | None" = None


@dataclass
class LogicalSource:
    """rml:LogicalSource: where records come from + how to iterate them.

    ``kind`` in {'xpath','jsonpath','csv','table','pages'}; 'table' and
    'pages' are our engine's scale-native formulations (parquet/Iceberg
    relational table; Common-Crawl-style page table per BASELINE
    input_hint).
    """

    source: str
    kind: str
    iterator: str | None = None
    delimiter: str = ","
    # pages-formulation extras: which page column holds the payload
    payload_column: str = "text"
    # connector options (Kafka broker/topic/groupId, HTTP headers, ...)
    options: dict[str, str] = field(default_factory=dict)
    # rml:query / rr:sqlQuery on a relational source: a SQL view over
    # the bound table executed by spark.sql before reference projection
    # (the reference delegates RDB sources to the Java jar,
    # /root/reference/src/rml/rml.ts:136-147)
    query: str | None = None

    def key(self) -> str:
        # the first three fields feed IncRML state-path hashing
        # (plans/incrml._state_path splits on \x00 and uses [:2]) — new
        # distinguishing fields append AFTER them. delimiter and
        # payload_column must participate: two same-file CSV sources
        # with different csvw:delimiter are different scans.
        opts = "\x01".join(f"{k}={v}" for k, v in sorted(self.options.items()))
        return (
            f"{self.source}\x00{self.iterator or ''}\x00{self.kind}"
            f"\x00{self.delimiter}\x00{self.payload_column}\x00{opts}"
            f"\x00{self.query or ''}"
        )


@dataclass
class LogicalTarget:
    """rmlt:LogicalTarget / rmlt:EventStreamTarget."""

    target_id: str
    location: str | None = None
    serialization: str | None = None
    is_ldes: bool = False
    ldes_timestamp_path: str | None = None
    ldes_version_of_path: str | None = None
    ldes_base_iri: str | None = None
    ldes_immutable_iri: bool = False
    ldes_shape: str | None = None


@dataclass
class SubjectMap:
    term_map: TermMap
    classes: list[str] = field(default_factory=list)
    graph_map: TermMap | None = None
    logical_target: LogicalTarget | None = None


@dataclass
class TriplesMap:
    name: str
    logical_source: LogicalSource
    subject_map: SubjectMap
    predicate_object_maps: list[PredicateObjectMap] = field(default_factory=list)
    label: str | None = None

    def graph_key(self) -> str:
        gm = self.subject_map.graph_map
        return gm.expression_string() if gm is not None else "default"

    def group_key(self) -> tuple[str, str, str]:
        """(subject-expr, source+iterator, graph) — the reference's
        TriplesMap merge key (src/rml/incrml.ts:155-221)."""
        return (
            self.subject_map.term_map.expression_string(),
            self.logical_source.key(),
            self.graph_key(),
        )


@dataclass
class MappingPlan:
    triples_maps: list[TriplesMap]
    source_bindings: dict[str, str] = field(default_factory=dict)

    def plan_hash(self) -> str:
        """Structural fingerprint of the plan, used by the round-trip
        tests (parse -> serialize -> re-parse must hash equal). Not a
        cache or registry key: it covers names, term-map expressions,
        logical sources, graphs, language/datatype and parent TriplesMap
        names, and leaves out ``rr:class``, term types, logical targets
        and join conditions, so plans differing only there hash equal."""
        parts = []
        for tm in sorted(self.triples_maps, key=lambda t: t.name):
            parts.append(tm.name)
            parts.append(tm.subject_map.term_map.expression_string())
            parts.append(tm.logical_source.key())
            gm = tm.subject_map.graph_map
            parts.append(gm.expression_string() if gm is not None else "")
            for pom in tm.predicate_object_maps:
                parts.append(pom.predicate.expression_string())
                if pom.object is not None:
                    parts.append(pom.object.expression_string())
                    lm = pom.object.language_map
                    parts.append(lm.expression_string() if lm is not None else pom.object.language or "")
                    dm = pom.object.datatype_map
                    parts.append(dm.expression_string() if dm is not None else pom.object.datatype or "")
                parts.append(pom.parent_triples_map or "")
                pgm = pom.graph_map
                parts.append(pgm.expression_string() if pgm is not None else "")
        return hashlib.sha256("\x1e".join(parts).encode()).hexdigest()


_CONCAT_EXPR_RE = re.compile(r"^\(\s*(.+)\s*\)$", re.DOTALL)


def decompose_reference(ref: str) -> list[str]:
    """Split an XPath string-concat reference like
    ``('prop0=' || @id || 'prop1=' || @label)`` into its raw refs
    (the watched-property form the IncRML rewriter builds,
    /root/reference/src/rml/incrml.ts:462-478). Plain references return
    themselves."""
    parts = parse_concat_reference(ref)
    if parts is None:
        return [ref]
    return [val for kind, val in parts if kind == "ref"]


def parse_concat_reference(ref: str) -> list[tuple[str, str]] | None:
    """Parse the concat form into [('lit'|'ref', value), ...]; None if the
    reference is not a concat expression."""
    m = _CONCAT_EXPR_RE.match(ref.strip())
    if not m or "||" not in ref:
        return None
    out: list[tuple[str, str]] = []
    for piece in m.group(1).split("||"):
        piece = piece.strip()
        if len(piece) >= 2 and piece[0] == "'" and piece[-1] == "'":
            out.append(("lit", piece[1:-1]))
        else:
            out.append(("ref", piece))
    return out
