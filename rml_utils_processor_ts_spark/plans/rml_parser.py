"""RML mapping document -> MappingPlan.

Replaces the reference's rdf-lens pattern matching over an N3 Store
(``/root/reference/src/rml/rml.ts:152-274``) with a direct walk of the
parsed Turtle graph. Subject-expression precedence and validation mirror
``/root/reference/src/rml/incrml.ts:172-189`` (constant > template >
reference > functionValue) and the rr:class consistency / conditional
subject rules (``incrml.ts:356-368,391-412``).
"""

from __future__ import annotations

import json
import re

from . import voc
from .model import (
    LANGTAG_PATTERN,
    FunctionCall,
    JoinCondition,
    LogicalSource,
    LogicalTarget,
    MappingPlan,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
)
from .turtle import Graph, Term

LANGTAG_RE = re.compile(LANGTAG_PATTERN)


class MappingParseError(ValueError):
    pass


def _term_name(t: Term) -> str:
    return t.value if t.kind == "iri" else f"_:{t.value}"


def _parse_term_map(g: Graph, node: Term, resolve_base: bool = True) -> TermMap:
    """Parse a term-map node honoring the reference precedence
    (src/rml/incrml.ts:172-189)."""
    tm = TermMap()
    const = g.object(node, voc.RR_CONSTANT)
    template = g.object(node, voc.RR_TEMPLATE)
    reference = g.object(node, voc.RML_REFERENCE)
    fn_value = g.object(node, voc.FNML_FUNCTION_VALUE)
    if const is not None:
        tm.constant = const.value
        tm.constant_is_iri = const.kind == "iri"
        # a literal constant carries its own language/datatype
        # (rr:constant "hello"@en, rr:constant 5 -> xsd:integer);
        # explicit rr:language / rr:datatype below still override
        if const.kind == "literal":
            tm.language = const.lang
            tm.datatype = const.datatype
    elif template is not None:
        tm.template = template.value
    elif reference is not None:
        tm.reference = reference.value
    elif fn_value is not None:
        tm.function = _parse_function(g, fn_value)
    ttype = g.object(node, voc.RR_TERM_TYPE)
    if ttype is not None:
        tm.term_type = {
            voc.RR_IRI: "IRI",
            voc.RR_LITERAL: "Literal",
            voc.RR_BLANK_NODE: "BlankNode",
        }.get(ttype.value)
    dtype = g.object(node, voc.RR_DATATYPE) or g.object(node, voc.RR_DATATYPE_CAMEL)
    if dtype is not None:
        tm.datatype = dtype.value
    lang = g.object(node, voc.RR_LANGUAGE)
    if lang is not None:
        # R2RML §7.4.2 / RMLTC0015b: a constant rr:language must be a
        # valid language tag; an invalid one is a mapping error
        # (RMLMapper raises). Static — costs nothing at runtime.
        if not LANGTAG_RE.fullmatch(lang.value or ""):
            raise MappingParseError(f"invalid rr:language tag: {lang.value!r}")
        tm.language = lang.value
    lang_map = g.object(node, voc.RML_LANGUAGE_MAP)
    if lang_map is not None:
        # language tags are not IRIs: never base-resolve their templates
        tm.language_map = _parse_term_map(g, lang_map, resolve_base=False)
    dt_map = g.object(node, voc.RML_DATATYPE_MAP)
    if dt_map is not None:
        tm.datatype_map = _parse_term_map(g, dt_map)
    inv = g.object(node, voc.RR_INVERSE_EXPRESSION)
    if inv is not None:
        tm.inverse_expression = inv.value
    # @base resolution for relative templates in IRI position (RMLMapper
    # resolves template output against the document base; resolving the
    # template text is equivalent since expansion values are IRI-encoded
    # and cannot introduce a scheme or dot-segments)
    if (
        resolve_base
        and tm.template is not None
        and getattr(g, "base", None)
        and tm.term_type in (None, "IRI")
        and not re.match(r"[A-Za-z][A-Za-z0-9+.\-]*:", tm.template)
    ):
        from urllib.parse import urljoin

        tm.template = urljoin(g.base, tm.template)
    return tm


def _parse_graph_maps(g: Graph, node: Term) -> list[TermMap | None]:
    """ALL rr:graphMap / rr:graph values on ``node`` (R2RML §9 allows
    several; the generated triple lands in EVERY named graph). ``None``
    entries mean the default graph (``rr:graph rr:defaultGraph`` is an
    explicit way to say it, so ``rr:graph ex:g1, rr:defaultGraph`` is
    g1 AND the default graph). Callers expand multiplicity at PLAN time
    — one TriplesMap / POM copy per graph — the same one-per-graph
    expansion the YARRRML front-end already does, so the executor stays
    single-graph and set-union dedupe restores the exact §9 semantics."""
    out: list[TermMap | None] = []
    for gm_node in g.objects(node, voc.RR_GRAPH_MAP):
        gm = _parse_term_map(g, gm_node)
        out.append(None if gm.constant == voc.RR_DEFAULT_GRAPH else gm)
    for c in g.objects(node, voc.RR_GRAPH):
        out.append(
            None
            if c.value == voc.RR_DEFAULT_GRAPH
            else TermMap(constant=c.value, constant_is_iri=(c.kind == "iri"))
        )
    if not out:
        return [None]
    # R2RML §9 is SET semantics: identical graph maps (rr:graphMap +
    # rr:graph naming the same constant IRI, or repeated defaultGraph
    # spellings) must not multiply the expansion — with
    # PlanExecutor(dedupe=False) each copy would re-emit its quads
    # (dataclass equality covers constant/reference/template forms)
    deduped: list[TermMap | None] = []
    for gm in out:
        if gm in deduped:
            continue
        deduped.append(gm)
    return deduped


def _parse_function(g: Graph, fn_node: Term) -> FunctionCall:
    """fnml:functionValue block -> FunctionCall. The block is a list of
    rr:predicateObjectMap entries; fno:executes names the function, every
    other predicate is a named parameter (possibly itself a nested
    FunctionTermMap) — shape per /root/reference/test/incrml.test.ts:55-119."""
    function_iri: str | None = None
    params: dict[str, TermMap] = {}
    for pom_node in g.objects(fn_node, voc.RR_PREDICATE_OBJECT_MAP):
        pred_term = g.object(pom_node, voc.RR_PREDICATE)
        if pred_term is None:
            pm = g.object(pom_node, voc.RR_PREDICATE_MAP)
            pred_term = g.object(pm, voc.RR_CONSTANT) if pm is not None else None
        if pred_term is None:
            raise MappingParseError("functionValue POM without predicate")
        obj_node = g.object(pom_node, voc.RR_OBJECT_MAP)
        if obj_node is None:
            raise MappingParseError("functionValue POM without objectMap")
        if pred_term.value == voc.FNO_EXECUTES:
            executes = g.object(obj_node, voc.RR_CONSTANT)
            if executes is None:
                raise MappingParseError("fno:executes without rr:constant")
            # both idlab-fn namespace spellings resolve to the
            # canonical constants (voc.canonical_function_iri)
            function_iri = voc.canonical_function_iri(executes.value)
        else:
            # function parameters are plain values, not IRI positions:
            # @base must never be prepended to a value template like
            # "{first} {last}" (it would corrupt the function input),
            # so parse with resolve_base=False — same rule as
            # rml:languageMap above
            parent_tm_node = g.object(obj_node, voc.RR_PARENT_TERM_MAP)
            if parent_tm_node is not None:
                ptm = _parse_term_map(g, parent_tm_node, resolve_base=False)
                ptm.datatype = "urn:rml-spark:parentTermMap"  # marker
                tm = ptm
            else:
                tm = _parse_term_map(g, obj_node, resolve_base=False)
            # repeated parameters (grel:p_array_a appears once per element
            # of an array_join, /root/reference/src/rml/incrml.ts:496-507)
            # get positional '#N' suffixes instead of clobbering each other
            key = voc.canonical_function_iri(pred_term.value)
            if key in params:
                n = 1
                while f"{key}#{n}" in params:
                    n += 1
                key = f"{key}#{n}"
            params[key] = tm
    if function_iri is None:
        raise MappingParseError("functionValue without fno:executes")
    return FunctionCall(function_iri=function_iri, params=params)


_FORMULATIONS = {
    voc.QL_XPATH: "xpath",
    voc.QL_JSONPATH: "jsonpath",
    voc.QL_CSV: "csv",
    voc.QL_TABLE: "table",
    voc.QL_PAGES: "pages",
    # R2RML relational formulation (d2rq:Database sources)
    voc.RR_SQL2008: "table",
}


def _parse_formulation(g: Graph, node: Term, default: str) -> tuple[str, dict[str, str]]:
    """rml:referenceFormulation: a ql:* constant IRI, or the RML-IO
    structured form — a node typed rml:XPathReferenceFormulation
    carrying rml:namespace [ rml:namespacePrefix ; rml:namespaceURL ]
    declarations (http://w3id.org/rml/). Returns (kind, extra options);
    declared prefix maps land in options["xpath.namespaces"] (JSON) and
    switch the XPath evaluator from local-name matching to real
    namespace-aware prefix expansion (sources/registry.py)."""
    f = g.object(node, voc.RML_REFERENCE_FORMULATION)
    if f is None:
        return default, {}
    if f.value in _FORMULATIONS:
        return _FORMULATIONS[f.value], {}
    types = {t.value for t in g.objects(f, voc.RDF_TYPE)}
    if voc.RMLCORE_XPATH_REF_FORM in types:
        ns: dict[str, str] = {}
        for nsn in g.objects(f, voc.RMLCORE_NAMESPACE):
            pfx = g.object(nsn, voc.RMLCORE_NAMESPACE_PREFIX)
            url = g.object(nsn, voc.RMLCORE_NAMESPACE_URL)
            if pfx is None or url is None:
                raise MappingParseError(
                    "rml:namespace needs rml:namespacePrefix + rml:namespaceURL"
                )
            ns[pfx.value] = url.value
        opts = {"xpath.namespaces": json.dumps(ns, sort_keys=True)} if ns else {}
        return "xpath", opts
    raise MappingParseError(f"unknown referenceFormulation {f.value}")


def _parse_logical_source(g: Graph, node: Term, bindings: dict[str, str]) -> LogicalSource:
    src = g.object(node, voc.RML_SOURCE)
    table_name = g.object(node, voc.RR_TABLE_NAME)
    if src is None and table_name is None:
        raise MappingParseError("LogicalSource without rml:source or rr:tableName")
    delim = ","
    options: dict[str, str] = {}
    # relational sources: rml:query / rr:sqlQuery run via spark.sql over
    # a temp view of the bound table; rr:tableName names both the view
    # and (absent rml:source) the binding key — this closes the
    # reference's RDB delegation (/root/reference/src/rml/rml.ts:136-147)
    # without JDBC drivers
    query = g.object(node, voc.RML_QUERY) or g.object(node, voc.RR_SQL_QUERY)
    if table_name is not None:
        options["table_name"] = table_name.value
    if src is None:
        location = bindings.get(table_name.value, table_name.value)
        kind, extra_opts = _parse_formulation(g, node, "table")
        options.update(extra_opts)
        it = g.object(node, voc.RML_ITERATOR)
        return LogicalSource(
            source=location,
            kind=kind,
            iterator=it.value if it else None,
            options=options,
            query=query.value if query else None,
        )
    src_types = {t.value for t in g.objects(src, voc.RDF_TYPE)} if src.kind in ("bnode", "iri") else set()
    if src.kind in ("bnode", "iri") and g.object(src, voc.CSVW + "url") is not None:
        # csvw:Table source with optional csvw:dialect/csvw:delimiter
        # (vocab at /root/reference/src/voc.ts:86-93)
        location = g.object(src, voc.CSVW + "url").value
        dialect = g.object(src, voc.CSVW + "dialect")
        if dialect is not None:
            d = g.object(dialect, voc.CSVW + "delimiter")
            if d is not None:
                delim = d.value
    elif src.kind in ("bnode", "iri") and g.object(src, voc.TD_HAS_FORM) is not None:
        # WoT HTTP source description: rml:source [ a td:PropertyAffordance ;
        # td:hasForm [ a td:Form ; hctl:hasTarget <url> ; ... ] ]
        # (/root/reference/test/rml.test.ts:299-320)
        form = g.object(src, voc.TD_HAS_FORM)
        target = g.object(form, voc.HCTL_HAS_TARGET)
        if target is None:
            raise MappingParseError("td:Form without hctl:hasTarget")
        location = target.value
        ctype = g.object(form, voc.HCTL_FOR_CONTENT_TYPE)
        if ctype is not None:
            options["http.content_type"] = ctype.value
    elif src.kind in ("bnode", "iri") and (
        voc.D2RQ_DATABASE in src_types or g.object(src, voc.D2RQ_JDBC_DSN) is not None
    ):
        # Remote relational database via the d2rq vocabulary —
        # rml:source [ a d2rq:Database ; d2rq:jdbcDSN "jdbc:..." ;
        # d2rq:jdbcDriver "cls" ; d2rq:username ; d2rq:password ] with
        # rr:tableName or rml:query picking the relation. The reference
        # leaves these sources undeclared and delegates the whole
        # mapping to its Java jar (/root/reference/src/rml/rml.ts:136-147);
        # here they compile to a spark.read JDBC scan (sources/registry.py
        # _jdbc_df) with pushdown into the database.
        dsn = g.object(src, voc.D2RQ_JDBC_DSN)
        if dsn is None:
            raise MappingParseError("d2rq:Database without d2rq:jdbcDSN")
        location = dsn.value
        options["jdbc.url"] = dsn.value
        driver = g.object(src, voc.D2RQ_JDBC_DRIVER)
        if driver is not None:
            options["jdbc.driver"] = driver.value
        user = g.object(src, voc.D2RQ_USERNAME)
        if user is not None:
            options["jdbc.user"] = user.value
        password = g.object(src, voc.D2RQ_PASSWORD)
        if password is not None:
            options["jdbc.password"] = password.value
    elif src.kind in ("bnode", "iri") and (
        voc.RMLS_KAFKA_STREAM in src_types or g.object(src, voc.RMLS_BROKER) is not None
    ):
        # Kafka stream source (rmls: vocab, /root/reference/src/voc.ts:26-34):
        # rml:source [ a rmls:KafkaStream ; rmls:broker "host:port" ;
        # rmls:topic "t" ; rmls:groupId "g" ]
        broker = g.object(src, voc.RMLS_BROKER)
        if broker is None:
            host = g.object(src, voc.RMLS_HOST_NAME)
            port = g.object(src, voc.RMLS_PORT)
            if host is None or port is None:
                raise MappingParseError("rmls:KafkaStream needs rmls:broker or rmls:hostName+rmls:port")
            broker_val = f"{host.value}:{port.value}"
        else:
            broker_val = broker.value
        topic = g.object(src, voc.RMLS_TOPIC)
        if topic is None:
            raise MappingParseError("rmls:KafkaStream without rmls:topic")
        location = f"kafka://{broker_val}/{topic.value}"
        options["kafka.bootstrap.servers"] = broker_val
        options["subscribe"] = topic.value
        group = g.object(src, voc.RMLS_GROUP_ID)
        if group is not None:
            options["kafka.group.id"] = group.value
    else:
        location = src.value
    # A2 analog: resolve declared locations to bound table/paths via a
    # dict lookup instead of rewriting serialized text
    # (/root/reference/src/rml/rml.ts:190-201).
    location = bindings.get(location, location)
    kind, extra_opts = _parse_formulation(g, node, "csv")
    options.update(extra_opts)
    if g.object(node, voc.RML_REFERENCE_FORMULATION) is None and (
        location.startswith("table:") or "jdbc.url" in options
    ):
        kind = "table"
    it = g.object(node, voc.RML_ITERATOR)
    return LogicalSource(
        source=location,
        kind=kind,
        iterator=it.value if it else None,
        delimiter=delim,
        options=options,
        query=query.value if query else None,
    )


def _parse_logical_target(g: Graph, node: Term) -> LogicalTarget:
    types = {t.value for t in g.objects(node, voc.RDF_TYPE)}
    is_ldes = voc.RMLT_EVENT_STREAM_TARGET in types
    ser = g.object(node, voc.RMLT_SERIALIZATION)
    location = None
    target_node = g.object(node, voc.RMLT_TARGET)
    if target_node is not None:
        dump = g.object(target_node, voc.VOID_DATA_DUMP)
        if dump is not None:
            location = dump.value
    lt = LogicalTarget(
        target_id=_term_name(node),
        location=location,
        serialization=ser.value if ser else None,
        is_ldes=is_ldes,
    )
    ldes_node = g.object(node, voc.RMLT_LDES)
    if ldes_node is not None:
        tsp = g.object(ldes_node, voc.LDES_TIMESTAMP_PATH)
        vop = g.object(ldes_node, voc.LDES_VERSION_OF_PATH)
        shape = g.object(ldes_node, voc.TREE_SHAPE)
        lt.ldes_timestamp_path = tsp.value if tsp else None
        lt.ldes_version_of_path = vop.value if vop else None
        lt.ldes_shape = shape.value if shape else None
    imm = g.object(node, voc.RMLT_LDES_GENERATE_IMMUTABLE_IRI)
    if imm is not None:
        lt.ldes_immutable_iri = imm.value in ("true", "1")
    base = g.object(node, voc.RMLT_LDES_BASE_IRI)
    if base is not None:
        lt.ldes_base_iri = base.value
    return lt


def _parse_poms(g: Graph, node: Term) -> list[PredicateObjectMap]:
    """Parse one rr:predicateObjectMap node into its expanded POM list.

    R2RML §6.3: a predicate-object map may carry MULTIPLE predicate maps
    and MULTIPLE object maps (``rr:predicate ex:a, ex:b``); it generates
    one triple per (predicate, object) PAIR (official suite RMLTC0003).
    Expansion happens here, at plan time, so the executor stays a flat
    per-POM projection compiler — the expanded plan is literally the
    equivalent single-pair document, and the serializer round-trips it
    as such (hash-equal on re-parse). Graph maps / logical targets on
    the POM scope every expanded pair (union semantics are per-POM in
    §9 and carry over unchanged)."""
    preds: list[TermMap] = [
        _parse_term_map(g, pm) for pm in g.objects(node, voc.RR_PREDICATE_MAP)
    ]
    preds.extend(
        TermMap(constant=p.value, constant_is_iri=(p.kind == "iri"))
        for p in g.objects(node, voc.RR_PREDICATE)
    )
    if not preds:
        raise MappingParseError("PredicateObjectMap without predicate")
    pom_lt_node = g.object(node, voc.RML_LOGICAL_TARGET)
    # multiple POM graph maps expand like predicates: one POM copy per
    # graph (§9: the pair-triple lands in every named graph; the copy
    # whose graph is None contributes the subject-graph/default quad,
    # which every copy also emits — set-union dedupe collapses those)
    graph_maps = _parse_graph_maps(g, node)

    out: list[PredicateObjectMap] = []

    def _emit(object_map, parent=None, joins=None, lt_node=None):
        lt = lt_node if lt_node is not None else pom_lt_node
        for pred in preds:
            for graph_map in graph_maps:
                out.append(
                    PredicateObjectMap(
                        predicate=pred,
                        object=object_map,
                        parent_triples_map=parent,
                        join_conditions=list(joins) if joins else [],
                        logical_target=_parse_logical_target(g, lt) if lt is not None else None,
                        graph_map=graph_map,
                    )
                )

    # rr:object constant shortcut (R2RML §6.3): equivalent to an
    # objectMap with rr:constant — IRI node => IRI term, literal
    # node => literal term (which keeps its own tag/type: rr:object "x"@en)
    for o in g.objects(node, voc.RR_OBJECT):
        _emit(
            TermMap(
                constant=o.value,
                constant_is_iri=(o.kind == "iri"),
                language=o.lang,
                datatype=o.datatype,
            )
        )
    for obj_node in g.objects(node, voc.RR_OBJECT_MAP):
        # rml:logicalTarget on the POM or its object map (broader
        # RML-target surface than the subject-map-only reference
        # fixtures): routes this POM's quads to the union of subject
        # target + this target
        lt_node = pom_lt_node or g.object(obj_node, voc.RML_LOGICAL_TARGET)
        parent = g.object(obj_node, voc.RR_PARENT_TRIPLES_MAP)
        if parent is not None:
            joins: list[JoinCondition] = []
            for jc_node in g.objects(obj_node, voc.RML_JOIN_CONDITION):
                fn_value = g.object(jc_node, voc.FNML_FUNCTION_VALUE)
                if fn_value is None:
                    raise MappingParseError("joinCondition without functionValue")
                fn = _parse_function(g, fn_value)
                if not fn.function_iri.endswith("equal"):
                    raise MappingParseError(f"unsupported join function {fn.function_iri}")
                child = fn.params.get(voc.GREL_VALUE_PARAMETER)
                parent_tm = fn.params.get(voc.GREL_VALUE_PARAMETER2)
                if child is None or parent_tm is None:
                    raise MappingParseError("join condition needs valueParameter + valueParameter2")
                parent_tm.datatype = None  # clear marker
                joins.append(JoinCondition(child=child, parent=parent_tm))
            # plain R2RML §11 syntax: rr:joinCondition [ rr:child "c" ;
            # rr:parent "p" ] — child/parent are reference expressions
            # against the child/parent logical sources (official suite
            # RMLTC0008b..0012 use this form; the reference's own
            # fixtures use the FNML equal() form parsed above)
            for jc_node in g.objects(obj_node, voc.RR_JOIN_CONDITION):
                child_ref = g.object(jc_node, voc.RR_CHILD)
                parent_ref = g.object(jc_node, voc.RR_PARENT)
                if child_ref is None or parent_ref is None:
                    raise MappingParseError("rr:joinCondition needs rr:child + rr:parent")
                joins.append(
                    JoinCondition(
                        child=TermMap(reference=child_ref.value),
                        parent=TermMap(reference=parent_ref.value),
                    )
                )
            _emit(None, parent=parent.value, joins=joins, lt_node=lt_node)
        else:
            _emit(_parse_term_map(g, obj_node), lt_node=lt_node)
    if not out:
        raise MappingParseError("PredicateObjectMap without objectMap")
    return out


def parse_mapping(turtle_text: str, source_bindings: dict[str, str] | None = None, add_prefixes: bool = True) -> MappingPlan:
    """Parse an RML mapping document (Turtle) into a MappingPlan.

    ``source_bindings`` maps declared rml:source locations to engine
    locations (parquet paths / ``table:<dir>#<name>`` ids) — the A2
    location-rewrite analog.
    """
    from .voc import STANDARD_PREFIX_HEADER

    text = (STANDARD_PREFIX_HEADER + "\n" + turtle_text) if add_prefixes and "@prefix" not in turtle_text else turtle_text
    g = Graph.from_turtle(text)
    return plan_from_graph(g, source_bindings)


def plan_from_graph(g: Graph, source_bindings: dict[str, str] | None = None) -> MappingPlan:
    bindings = source_bindings or {}
    tms: list[TriplesMap] = []
    for tm_node in g.subjects(voc.RDF_TYPE, Term("iri", voc.RR_TRIPLES_MAP)):
        ls_node = g.object(tm_node, voc.RML_LOGICAL_SOURCE)
        if ls_node is None:
            raise MappingParseError(f"TriplesMap {tm_node} without logicalSource")
        ls = _parse_logical_source(g, ls_node, bindings)
        sm_node = g.object(tm_node, voc.RR_SUBJECT_MAP)
        if sm_node is None:
            # rr:subject constant shortcut (R2RML §6.3)
            s_const = g.object(tm_node, voc.RR_SUBJECT)
            if s_const is None:
                raise MappingParseError(f"TriplesMap {tm_node} without subjectMap")
            tms.append(
                TriplesMap(
                    name=_term_name(tm_node),
                    logical_source=ls,
                    subject_map=SubjectMap(
                        term_map=TermMap(constant=s_const.value, constant_is_iri=True)
                    ),
                    predicate_object_maps=[
                        pom
                        for p in g.objects(tm_node, voc.RR_PREDICATE_OBJECT_MAP)
                        for pom in _parse_poms(g, p)
                    ],
                )
            )
            continue
        stm = _parse_term_map(g, sm_node)
        classes = [c.value for c in g.objects(sm_node, voc.RR_CLASS)]
        graph_maps = _parse_graph_maps(g, sm_node)
        lt_node = g.object(sm_node, voc.RML_LOGICAL_TARGET)
        logical_target = _parse_logical_target(g, lt_node) if lt_node is not None else None
        poms = [
            pom
            for p in g.objects(tm_node, voc.RR_PREDICATE_OBJECT_MAP)
            for pom in _parse_poms(g, p)
        ]
        label = g.object(tm_node, voc.RDFS + "label")
        # multiple SUBJECT graph maps (R2RML §9): one TriplesMap copy per
        # graph — union + set-dedupe reproduces "every triple in every
        # subject graph" with a single-graph executor (the same expansion
        # the YARRRML front-end does for its graphs: lists). The FIRST
        # copy keeps the original name so rr:parentTriplesMap references
        # still resolve; parent graph maps never affect child quads
        # (§11.1: a ref-object-map triple lands in the CHILD's graphs),
        # so joining against copy 1 alone is exact.
        for gidx, graph_map in enumerate(graph_maps):
            tms.append(
                TriplesMap(
                    name=_term_name(tm_node) + (f"__graph{gidx + 1}" if gidx else ""),
                    logical_source=ls,
                    subject_map=SubjectMap(
                        term_map=stm,
                        classes=classes,
                        graph_map=graph_map,
                        logical_target=logical_target,
                    ),
                    predicate_object_maps=poms,
                    label=label.value if label else None,
                )
            )
    if not tms:
        raise MappingParseError("mapping document contains no TriplesMap")
    return MappingPlan(triples_maps=tms, source_bindings=bindings)
