"""MappingPlan -> triples DataFrame executor.

This replaces the reference's subprocess execution of the Java RMLMapper
(``/root/reference/src/rml/rml.ts:408-483``) with a single declarative
DataFrame plan per mapping:

    scan (shared per logical source) -> iterator explode (Arrow UDF or
    builtin) -> term-map projection (array<struct> -> explode) ->
    referencing-object-map equi-joins -> LDES versioning -> union ->
    dropDuplicates -> target routing.

Scale notes (100 TB design point):
  * One scan per distinct logical source, reused by every TriplesMap on
    it (the reference re-reads the snapshot file per mapping; we dedupe
    scans at compile time). Only referenced columns are selected, so
    parquet column pruning + predicate pushdown apply.
  * The per-TM projection is a single ``explode(array(struct...))`` —
    map-side only, zero shuffles. The only shuffles in a mapping run are
    referencing-object-map joins and the final distinct, both AQE-managed
    (skew-join split + partition coalescing enabled in get_spark()).
  * CDC (stateful FnO subjects) joins each event's current entities
    against its versioned state table (Iceberg-style snapshot dirs) —
    see cdc.py. A stateful source is iterated once per execution into a
    checkpoint that the triples and every state update read.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import voc
from ..plans.model import (
    LANGTAG_PATTERN,
    LogicalSource,
    MappingPlan,
    PredicateObjectMap,
    TriplesMap,
)
from ..functions.xsdlex import canonicalize_typed
from ..sources.registry import records_df, ref_column_name
from .cc import _materialize
from .terms import (
    compile_datatype,
    compile_language,
    compile_term_map,
    effective_term_type,
    stateful_subject_spec,
    template_parts,
)

TRIPLE_COLUMNS = ["s", "s_termtype", "p", "o", "o_termtype", "o_datatype", "o_lang", "g", "target_id"]

_XSD_DATETIME = voc.XSD + "dateTime"


@dataclass
class ExecutionResult:
    triples: DataFrame
    state_updates: dict[str, DataFrame] = field(default_factory=dict)
    # TriplesMap names skipped because their logical source could not be
    # resolved (on_missing_source="skip" — the reference's warn-and-
    # continue, /root/reference/src/rml/rml.ts:264-269)
    skipped: list[str] = field(default_factory=list)

    def target_ids(self) -> list[str]:
        return [r[0] for r in self.triples.select("target_id").distinct().collect()]

    def for_target(self, target_id: str) -> DataFrame:
        return self.triples.filter(F.col("target_id") == target_id).drop("target_id")


def _resolver(records_cols: set[str]):
    def resolve(ref: str) -> Column:
        name = ref_column_name(ref)
        if name not in records_cols:
            raise ValueError(f"reference {ref!r} not present in records (missing column {name})")
        return F.col(name)

    return resolve


def _collect_refs(tm: TriplesMap) -> list[str]:
    refs: list[str] = []

    def add(term) -> None:
        if term is not None:
            refs.extend(term.references())

    add(tm.subject_map.term_map)
    add(tm.subject_map.graph_map)
    for pom in tm.predicate_object_maps:
        add(pom.predicate)
        add(pom.graph_map)
        if pom.object is not None:
            add(pom.object)
        for jc in pom.join_conditions:
            add(jc.child)
    # stable dedupe
    seen: set[str] = set()
    out = []
    for r in refs:
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out


# absolute-IRI shape: a scheme, then no whitespace/control or the
# RFC 3987 excluded delimiters anywhere
_IRI_SCHEME_RX = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
_IRI_BAD_CHAR_RX = r'[\x00-\x20<>"{}|^\x60\\]'
_PY_SCHEME = re.compile(_IRI_SCHEME_RX)
_PY_BAD = re.compile('[\x00-\x20<>"{}|^`\\\\]')


def _valid_iri_term(c: Column) -> Column:
    return c.rlike(_IRI_SCHEME_RX) & ~c.rlike(_IRI_BAD_CHAR_RX)


def _static_iri_ok(tm, position: str) -> bool:
    """Plan-time IRI-validity analysis (the reason the runtime filter is
    free on the common path): a CONSTANT is checked right here, once; a
    TEMPLATE whose leading literal carries the scheme and whose literal
    parts are clean can only produce valid IRIs, because every
    interpolated value passes iri_encode (forbidden characters become
    %XX; restored iunreserved characters are >= U+00A0, outside the
    forbidden class). Only reference-/function-sourced IRI terms — and
    templates that BEGIN with a placeholder — are data-dependent."""
    if effective_term_type(tm, position) != "IRI":
        return True  # literals/blank nodes: nothing to validate
    if tm.constant is not None:
        return bool(_PY_SCHEME.match(tm.constant)) and not _PY_BAD.search(tm.constant)
    if tm.template is not None:
        parts = template_parts(tm.template)
        if not parts or parts[0][0] != "lit" or not _PY_SCHEME.match(parts[0][1]):
            return False
        return all(not _PY_BAD.search(v) for k, v in parts if k == "lit")
    return False  # rml:reference / fnml function: runtime check


def _plan_iri_check_positions(plan) -> set[str]:
    """The quad POSITIONS ('s','p','o','g') that can hold an invalid IRI
    at runtime — the per-term refinement of the old all-or-nothing gate.
    The runtime filter regexes only these columns, so a plan whose sole
    data-dependent term is a function-sourced subject pays 2 rlikes on
    ``s`` instead of 8 across the quad (measured: the plan-global filter
    regressed rml_conditional_subject 30% in the r6 A/B/A). A plan with
    no data-dependent IRI terms — the overwhelmingly common
    all-template/constant mapping — pays nothing (empty set)."""
    by_name = {tm.name: tm for tm in plan.triples_maps}
    positions: set[str] = set()
    for tm in plan.triples_maps:
        if not _static_iri_ok(tm.subject_map.term_map, "subject"):
            positions.add("s")
        gm = tm.subject_map.graph_map
        if gm is not None and not _static_iri_ok(gm, "graph"):
            positions.add("g")
        for pom in tm.predicate_object_maps:
            if not _static_iri_ok(pom.predicate, "predicate"):
                positions.add("p")
            if pom.graph_map is not None and not _static_iri_ok(pom.graph_map, "graph"):
                positions.add("g")
            if pom.object is not None and not _static_iri_ok(pom.object, "object"):
                positions.add("o")
            if pom.parent_triples_map is not None:
                # referencing object map: the OBJECT is the parent's
                # subject IRI — a data-dependent parent subject needs
                # the o-column check
                parent = by_name.get(pom.parent_triples_map)
                if parent is not None and not _static_iri_ok(
                    parent.subject_map.term_map, "subject"
                ):
                    positions.add("o")
    return positions


def _valid_iri_quad(positions: set[str]) -> Column:
    """Row predicate: every IRI-typed term in the given quad positions is
    a valid absolute IRI (literals and blank nodes exempt; ``_:`` graph
    labels are blank nodes by the g-column convention). Positions proven
    valid at plan time are not touched."""
    preds: list[Column] = []
    if "s" in positions:
        preds.append((F.col("s_termtype") != "IRI") | _valid_iri_term(F.col("s")))
    if "p" in positions:
        preds.append(_valid_iri_term(F.col("p")))
    if "o" in positions:
        preds.append((F.col("o_termtype") != "IRI") | _valid_iri_term(F.col("o")))
    if "g" in positions:
        g = F.col("g")
        preds.append(g.isNull() | g.startswith("_:") | _valid_iri_term(g))
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _compile_object(om, resolve) -> Column:
    """Object column for a non-join POM: term-map compile plus the XSD
    canonical-lexical transform for typed literals (R2RML §10.2 /
    xsdlex docstring — "20.0"^^xsd:double renders 2.0E1). The transform
    compiles in only when the object map statically carries a
    canonicalizable rr:datatype (or a data-derived rml:datatypeMap,
    which pays a runtime CASE); untyped objects are untouched."""
    obj = compile_term_map(om, resolve, "object")
    if effective_term_type(om, "object") == "Literal":
        if om.datatype_map is not None:
            obj = canonicalize_typed(obj, None, compile_datatype(om, resolve))
        elif om.datatype is not None:
            obj = canonicalize_typed(obj, om.datatype, None)
        if om.language_map is not None:
            # data-derived language tag: an ill-formed value is an R2RML
            # data error — null the object so the quad drops at the
            # existing o-null filter. Static rr:language validates at
            # parse time; plans without a languageMap pay nothing.
            lang = compile_language(om, resolve)
            obj = F.when(lang.isNull() | lang.rlike(f"^{LANGTAG_PATTERN}$"), obj)
    return obj


def _obj_struct(
    pred: Column,
    obj: Column,
    ttype: Column,
    dtype: Column,
    lang: Column,
    target: Column,
    g_override: Column | None = None,
    *,
    emit_g_override: bool = False,
) -> Column:
    # g_override carries a POM-level graph (R2RML §9); null means "use
    # the subject map's graph column" (coalesced at the final select).
    # The field exists ONLY when the TriplesMap actually has POM-level
    # graph maps (emit_g_override) — an always-present null field rode
    # in every struct of every plan and measurably widened the explode
    # (r6 A/B/A: nquads_lines +19%). All structs of one TM share the
    # flag so the explode array stays schema-homogeneous.
    fields = [
        pred.alias("p"),
        obj.cast("string").alias("o"),
        ttype.alias("o_termtype"),
        dtype.alias("o_datatype"),
        lang.alias("o_lang"),
        target.alias("target_id"),
    ]
    if emit_g_override:
        fields.append(
            (g_override if g_override is not None else F.lit(None).cast("string")).alias(
                "g_override"
            )
        )
    return F.struct(*fields)


# How many runtime-datatypeMap canonicalization chains may share one
# fused projection. Each chain inlines four canonical_* regexp CASE arms
# (~4 KB of generated code); janino's per-method limit is 64 KB and a
# whole-stage-fused Project contributes ONE doConsume method that cannot
# be sub-split (its inputs are local variables), so ~16 chains in one
# projection fail to compile (probed r10; chained selects don't help —
# CollapseProject merges them back). Past the threshold the staged
# columns are wrapped in an identity higher-order function: HOFs are
# CodegenFallback, which excludes just that ProjectExec from the fused
# stage. Standalone, it compiles via UnsafeProjection with
# per-expression method splitting — every method small, no failed
# compile, and the surrounding operators stay whole-stage-compiled.
_DTMAP_FUSED_MAX = 6


def _codegen_isolate(c: Column) -> Column:
    """Identity wrapper that is CodegenFallback (array transform is a
    higher-order function), evicting the containing projection from
    whole-stage fusion without changing any value (nulls included:
    array(NULL)[1] transforms to NULL)."""
    return F.element_at(F.transform(F.array(c), lambda x: x), 1)


def _stage_in_batches(records: DataFrame, named_cols: list[tuple[str, Column]]) -> DataFrame:
    """Stage heavy datatypeMap object columns so the generated code
    stays compilable (round-9 fuzz shape, PLANS.md): a small count
    rides the fused projection untouched; a large count is isolated
    behind :func:`_codegen_isolate` (see _DTMAP_FUSED_MAX)."""
    if not named_cols:
        return records
    wrap = _codegen_isolate if len(named_cols) > _DTMAP_FUSED_MAX else (lambda c: c)
    return records.select("*", *[wrap(c).alias(name) for name, c in named_cols])


def _group_join_poms(
    join_poms: list[PredicateObjectMap],
) -> list[list[PredicateObjectMap]]:
    """Group referencing object maps by (parentTriplesMap, join
    conditions) — dataclass equality, order preserved. Each group
    compiles to ONE child×parent join (§6.3/§9 multi-predicate/
    multi-graph expansion rides the join as a post-join explode);
    distinct parents or conditions keep their own joins."""
    groups: list[list[PredicateObjectMap]] = []
    for pom in join_poms:
        for grp in groups:
            if (
                grp[0].parent_triples_map == pom.parent_triples_map
                and grp[0].join_conditions == pom.join_conditions
            ):
                grp.append(pom)
                break
        else:
            groups.append([pom])
    return groups


class PlanExecutor:
    """Compile + run a MappingPlan on a SparkSession.

    ``passthrough`` columns (url, warc_ts, ...) survive from page-table
    sources into the record frames for LDES versioning and lineage.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        state_store=None,
        publisher_ref: str | None = None,
        publisher_regex: str | None = None,
        version_ts: str | None = None,
        passthrough: tuple[str, ...] = ("url", "warc_ts"),
        dedupe: bool = True,
        ldes_ts_col: str = "warc_ts",
        on_missing_source: str = "raise",
        validate_iris: bool = True,
    ):
        self.spark = spark
        self.state_store = state_store
        self.publisher_ref = publisher_ref
        # A7 exact-form alternative to publisher_ref: a regex applied to
        # the RAW document payload before iteration (the reference's
        # incRMLStateIndex, /root/reference/src/rml/rml.ts:322-324; test
        # regex source_id="([^"]+)" at test/processors.test.ts:62) — for
        # publisher ids living OUTSIDE the iterated records. Group 1.
        self.publisher_regex = publisher_regex
        self.version_ts = version_ts
        self.passthrough = passthrough
        self.dedupe = dedupe
        self.ldes_ts_col = ldes_ts_col
        # "raise" (default — a missing binding is a config error caught
        # up front) or "skip": warn and drop the TriplesMaps over an
        # unresolvable source, executing the rest — the reference's
        # behavior for declared-but-unmatched sources
        # (/root/reference/src/rml/rml.ts:264-269, exercised at
        # test/rml.test.ts:690-798)
        if on_missing_source not in ("raise", "skip"):
            raise ValueError(f"on_missing_source must be 'raise' or 'skip', got {on_missing_source!r}")
        self.on_missing_source = on_missing_source
        # R2RML/RML data-error semantics (official test cases RMLTC0002e
        # family): a term map with rr:termType rr:IRI whose value is not
        # a valid absolute IRI produces NO triple (the row drops, the
        # run continues). Templates are IRI-safe by construction; this
        # catches rml:reference-sourced and relative IRIs. Two rlikes
        # per IRI column, pure codegen.
        self.validate_iris = validate_iris
        self._scan_cache: dict[tuple[str, tuple[str, ...]], DataFrame] = {}

    # -- scans -------------------------------------------------------------

    def _plan_source_refs(self, plan: MappingPlan, by_name: dict[str, TriplesMap]) -> None:
        """Pre-pass: union every reference used against each logical
        source across ALL TriplesMaps (subject/POM refs, stateful-function
        params, join child+parent refs), so the whole plan shares ONE
        scan/iterate stage per distinct source — the reference re-reads
        its snapshot file per mapping; we read each source once."""
        self._source_refs: dict[str, set[str]] = {}

        def add(ls_key: str, refs) -> None:
            self._source_refs.setdefault(ls_key, set()).update(refs)

        from .cdc import watched_references

        for tm in plan.triples_maps:
            add(tm.logical_source.key(), _collect_refs(tm))
            stateful = stateful_subject_spec(tm.subject_map.term_map)
            if stateful is not None:
                p = stateful.params.get(voc.IDLAB_IRI)
                if p is not None:
                    add(tm.logical_source.key(), p.references())
                w = stateful.params.get(voc.IDLAB_WATCHED_PROPERTY)
                if w is not None:
                    # includes the <ref> parts of 'propN=<ref>' array_join
                    # constants — the watched columns must reach the scan
                    add(tm.logical_source.key(), watched_references(w))
                if self.publisher_ref is not None:
                    add(tm.logical_source.key(), [self.publisher_ref])
            for pom in tm.predicate_object_maps:
                if pom.parent_triples_map is not None:
                    parent = by_name.get(pom.parent_triples_map)
                    if parent is not None:
                        add(
                            parent.logical_source.key(),
                            parent.subject_map.term_map.references()
                            + [r for jc in pom.join_conditions for r in jc.parent.references()],
                        )

    def _records(self, ls: LogicalSource, refs: list[str], *, checkpoint: bool = False) -> DataFrame:
        all_refs = set(refs) | getattr(self, "_source_refs", {}).get(ls.key(), set())
        key = (ls.key(), tuple(sorted(all_refs)))
        if key not in self._scan_cache:
            # only document-shaped sources carry a raw payload to regex
            # over; relational/CSV sources in the same plan are skipped
            # (they key state via publisher_ref record references)
            doc_shaped = ls.kind not in ("table", "csv") and not ls.source.startswith("table:")
            derived = (
                {"__publisher_doc": (self.publisher_regex, 1)}
                if self.publisher_regex is not None and doc_shaped
                else None
            )
            self._scan_cache[key] = records_df(
                self.spark,
                ls,
                sorted(all_refs),
                list(self.passthrough),
                doc_derived=derived,
                # plan bindings let an rml:query JOIN other bound tables
                table_views=getattr(self, "_bindings", None),
            )
        if checkpoint:
            self._scan_cache[key] = _materialize(self._scan_cache[key])
        return self._scan_cache[key]

    # -- execution ---------------------------------------------------------

    def _empty_triples(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], ", ".join(f"{c} string" for c in TRIPLE_COLUMNS)
        )

    def _drop_unresolvable_tms(self, plan: MappingPlan) -> tuple[list[TriplesMap], list[str]]:
        """on_missing_source='skip': pre-resolve every distinct logical
        source; TriplesMaps over unresolvable ones are warned about and
        dropped (with referencing POMs that point at a dropped parent),
        so a partially-bound pipeline still emits the resolvable part —
        the reference warns 'no Connector Architecture declaration' and
        continues (/root/reference/src/rml/rml.ts:264-269)."""
        import warnings

        bad_keys: set[str] = set()
        seen: set[str] = set()
        for tm in plan.triples_maps:
            ls = tm.logical_source
            if ls.key() in seen:
                continue
            seen.add(ls.key())
            try:
                self._records(ls, [])
            except Exception as e:  # noqa: BLE001 — any resolution failure
                warnings.warn(
                    f"logical source {ls.source!r} has no resolvable binding; "
                    f"skipping its TriplesMaps ({e})",
                    stacklevel=3,
                )
                bad_keys.add(ls.key())
        if not bad_keys:
            return plan.triples_maps, []
        skipped = [tm.name for tm in plan.triples_maps if tm.logical_source.key() in bad_keys]
        kept: list[TriplesMap] = []
        for tm in plan.triples_maps:
            if tm.logical_source.key() in bad_keys:
                continue
            poms = []
            for pom in tm.predicate_object_maps:
                if pom.parent_triples_map in skipped:
                    warnings.warn(
                        f"TriplesMap {tm.name}: referencing object map points at "
                        f"skipped parent {pom.parent_triples_map!r}; dropping the POM",
                        stacklevel=3,
                    )
                    continue
                poms.append(pom)
            kept.append(replace(tm, predicate_object_maps=poms))
        return kept, skipped

    def execute(self, plan: MappingPlan) -> ExecutionResult:
        """Compile ``plan`` into one triples frame plus, for CDC plans,
        one new-state frame per state table.

        Lazy for every plan without a stateful (CDC) TriplesMap. A CDC
        plan runs one Spark job per logical source that a stateful
        TriplesMap reads: the source is iterated once, here, into a
        checkpoint, and the triples and every state update read that
        copy — otherwise each consumer (the triples and each state
        table's commit) re-iterates the source."""
        by_name = {tm.name: tm for tm in plan.triples_maps}
        self._bindings = dict(plan.source_bindings)
        self._plan_source_refs(plan, by_name)
        skipped: list[str] = []
        if self.on_missing_source == "skip":
            kept, skipped = self._drop_unresolvable_tms(plan)
            if skipped:
                plan = replace(plan, triples_maps=kept)
                by_name = {tm.name: tm for tm in plan.triples_maps}
                if not kept:
                    return ExecutionResult(
                        triples=self._empty_triples(), skipped=skipped
                    )
        stateful_sources = {
            tm.logical_source.key(): tm.logical_source
            for tm in plan.triples_maps
            if stateful_subject_spec(tm.subject_map.term_map) is not None
        }
        for ls in stateful_sources.values():
            self._records(ls, [], checkpoint=True)
        frames: list[DataFrame] = []
        state_updates: dict[str, DataFrame] = {}

        # Operator fusion: every plain TriplesMap (no stateful subject, no
        # LDES rewrite) over the same logical source projects in ONE pass —
        # one scan + one explode for the whole group, instead of one scan
        # per TriplesMap (the reference runs the jar once per mapping file;
        # a fused group is the Spark-native inverse of that).
        fuse_groups: dict[str, list[TriplesMap]] = {}
        rest: list[TriplesMap] = []
        for tm in plan.triples_maps:
            lt = tm.subject_map.logical_target
            if stateful_subject_spec(tm.subject_map.term_map) is None and not (lt and lt.is_ldes):
                fuse_groups.setdefault(tm.logical_source.key(), []).append(tm)
            else:
                rest.append(tm)
        for tms in fuse_groups.values():
            frames.extend(self._fused_frames(tms, by_name))
        for tm in rest:
            tm_frames, tm_state = self._execute_tm(tm, by_name)
            frames.extend(tm_frames)
            state_updates.update(tm_state)
        if not frames:
            raise ValueError("plan produced no triples frames")
        triples = frames[0]
        for f in frames[1:]:
            triples = triples.unionByName(f)
        if self.validate_iris:
            check_positions = _plan_iri_check_positions(plan)
            if check_positions:
                triples = triples.filter(_valid_iri_quad(check_positions))
        if self.dedupe:
            # RDF graphs are sets (B12): duplicate quads collapse.
            triples = triples.dropDuplicates(TRIPLE_COLUMNS)
        return ExecutionResult(triples=triples, state_updates=state_updates, skipped=skipped)

    def _execute_tm(self, tm: TriplesMap, by_name: dict[str, TriplesMap]):
        refs = _collect_refs(tm)
        stateful = stateful_subject_spec(tm.subject_map.term_map)
        if stateful is not None:
            from .cdc import watched_references

            extra: list[str] = []
            p = stateful.params.get(voc.IDLAB_IRI)
            if p is not None:
                extra.extend(p.references())
            w = stateful.params.get(voc.IDLAB_WATCHED_PROPERTY)
            if w is not None:
                extra.extend(watched_references(w))
            refs = refs + [r for r in extra if r not in refs]
            if self.publisher_ref is not None and self.publisher_ref not in refs:
                refs = refs + [self.publisher_ref]
        records = self._records(tm.logical_source, refs)
        rec_cols = set(records.columns)
        resolve = _resolver(rec_cols)

        if stateful is not None:
            from .cdc import execute_stateful_tm

            return execute_stateful_tm(self, tm, stateful, records, resolve, by_name)

        subject = compile_term_map(tm.subject_map.term_map, resolve, "subject")
        return self._project_tm(tm, records, resolve, subject, by_name)

    def _fused_frames(self, tms: list[TriplesMap], by_name: dict[str, TriplesMap]) -> list[DataFrame]:
        """Project a group of same-source plain TriplesMaps in one pass:
        per-record array of fully-formed quad structs (subject/graph/
        target embedded per struct) -> one explode. Referencing-object-map
        joins still produce their own frames (they shuffle anyway) but
        reuse the same record scan."""
        ls = tms[0].logical_source
        records = self._records(ls, [])
        resolve = _resolver(set(records.columns))

        # Materialize each TM's subject IRI (template + IRI-encode, the
        # most expensive term expression) and graph ONCE per record:
        # they recur in every quad struct of the TM, and Generate does
        # no subexpression elimination — inlining them re-evaluated the
        # encode/regex chain once per STRUCT (3x+ per row) and inflated
        # the codegen unit (measured on rml_customer_triples, PLANS.md).
        subj_cols = [
            compile_term_map(tm.subject_map.term_map, resolve, "subject").alias(f"__subj_{i}")
            for i, tm in enumerate(tms)
        ]
        graph_cols = [
            self._graph_column(tm, resolve).alias(f"__g_{i}") for i, tm in enumerate(tms)
        ]
        # Runtime rml:datatypeMap objects also stage as named columns: the
        # canonicalization CASE inlines four regexp chains per occurrence,
        # and several of them inside one Generate's struct array can push
        # the generated method past janino's size limit — Spark then
        # silently drops the whole stage to interpreted evaluation
        # (round-9 fuzz finding, PLANS.md). As projected columns they are
        # split into their own codegen methods; the Generate only sees
        # plain column refs.
        dtmap_cols = [
            (f"__obj_{i}_{j}", _compile_object(pom.object, resolve))
            for i, tm in enumerate(tms)
            for j, pom in enumerate(tm.predicate_object_maps)
            if pom.parent_triples_map is None
            and pom.object is not None
            and pom.object.datatype_map is not None
        ]
        records = records.select("*", *subj_cols, *graph_cols)
        records = _stage_in_batches(records, dtmap_cols)

        quad_structs: list[Column] = []
        frames: list[DataFrame] = []
        for i, tm in enumerate(tms):
            subject = F.col(f"__subj_{i}")
            s_ttype = effective_term_type(tm.subject_map.term_map, "subject")
            graph = F.col(f"__g_{i}")
            target = self._target_id(tm)

            def quad(pred: Column, obj: Column, ttype, dtype=None, lang=None, *, subject=subject, s_ttype=s_ttype, graph=graph, target=target) -> Column:
                lang_col = lang if lang is not None else F.lit(None).cast("string")
                dtype_col = dtype if dtype is not None else F.lit(None).cast("string")
                return F.struct(
                    subject.alias("s"),
                    F.lit(s_ttype).alias("s_termtype"),
                    pred.alias("p"),
                    obj.cast("string").alias("o"),
                    F.lit(ttype).alias("o_termtype"),
                    dtype_col.alias("o_datatype"),
                    lang_col.alias("o_lang"),
                    graph.alias("g"),
                    F.lit(target).alias("target_id"),
                )

            for cls in tm.subject_map.classes:
                quad_structs.append(quad(F.lit(voc.RDF_TYPE), F.lit(cls), "IRI"))
            tm_join_poms = [
                pom for pom in tm.predicate_object_maps if pom.parent_triples_map is not None
            ]
            if tm_join_poms:
                base = records.withColumn("__s", subject).filter(F.col("__s").isNotNull())
                for grp in _group_join_poms(tm_join_poms):
                    frames.append(self._join_pom(tm, grp, base, resolve, graph, by_name))
            for j, pom in enumerate(tm.predicate_object_maps):
                if pom.parent_triples_map is not None:
                    continue
                pred = compile_term_map(pom.predicate, resolve, "predicate")
                if pom.object is not None and pom.object.datatype_map is not None:
                    obj = F.col(f"__obj_{i}_{j}")  # staged (codegen-size guard)
                else:
                    obj = _compile_object(pom.object, resolve)
                if pom.predicate.constant is None:
                    # R2RML §11.1: a failed (null) predicate generation
                    # produces NO triple — null the object so the quad
                    # drops at the existing o-filter; constant predicates
                    # (the overwhelming majority) pay nothing
                    obj = F.when(pred.isNotNull(), obj)
                lang_col = compile_language(pom.object, resolve)
                dtype_col = compile_datatype(pom.object, resolve)
                for tid in self._pom_target_ids(tm, pom):
                    # R2RML §9 union semantics: a POM-level graph map
                    # sends this POM's quads to its graph AND the subject
                    # map's graph(s); with neither, the default graph
                    for g_col, pg_guard in self._pom_graphs(tm, pom, resolve, graph):
                        obj_c = obj if pg_guard is None else F.when(pg_guard.isNotNull(), obj)
                        quad_structs.append(
                            quad(
                                pred,
                                obj_c,
                                effective_term_type(pom.object, "object"),
                                dtype_col,
                                lang_col,
                                target=tid,
                                graph=g_col,
                            )
                        )

        if quad_structs:
            exploded = (
                records.withColumn("__q", F.explode(F.array(*quad_structs)))
                .select("__q.*")
                .filter(F.col("s").isNotNull() & F.col("o").isNotNull())
                .select(*TRIPLE_COLUMNS)
            )
            frames.insert(0, exploded)
        return frames

    def _graph_column(self, tm: TriplesMap, resolve) -> Column:
        gm = tm.subject_map.graph_map
        if gm is None:
            return F.lit(None).cast("string")
        return compile_term_map(gm, resolve, "graph")

    def _pom_graphs(
        self, tm: TriplesMap, pom, resolve, subject_graph: Column
    ) -> list[tuple[Column, Column | None]]:
        """The graph columns a POM's quads land in (R2RML §9): the union
        of subject-map and POM graph maps; no POM graph map -> just the
        subject graph column (which is a null literal for the default
        graph). Each entry is (graph_col, null_guard): for a data-derived
        POM graph map, a null evaluation is a data error and the quad
        must be DROPPED (guard = the graph expr; caller nulls the object
        when it is null) rather than rerouted to the default graph."""
        if pom.graph_map is None:
            return [(subject_graph, None)]
        pg = compile_term_map(pom.graph_map, resolve, "graph")
        guard = pg if pom.graph_map.constant is None else None
        if tm.subject_map.graph_map is not None:
            return [(subject_graph, None), (pg, guard)]
        return [(pg, guard)]

    def _target_id(self, tm: TriplesMap) -> str:
        lt = tm.subject_map.logical_target
        return lt.target_id if lt is not None else "default"

    def _pom_target_ids(self, tm: TriplesMap, pom) -> list[str]:
        """RML-target union semantics: a quad routes to every target
        declared on any term map it involves (subject map + POM/object
        map); no declared target anywhere -> the default output."""
        ids: list[str] = []
        if tm.subject_map.logical_target is not None:
            ids.append(tm.subject_map.logical_target.target_id)
        if pom.logical_target is not None and pom.logical_target.target_id not in ids:
            ids.append(pom.logical_target.target_id)
        return ids or ["default"]

    def _project_tm(
        self,
        tm: TriplesMap,
        records: DataFrame,
        resolve,
        subject: Column,
        by_name: dict[str, TriplesMap],
        lifecycle_only: bool = False,
    ):
        """Project one TriplesMap into (s,p,o,g) rows: subject + graph +
        array of (p,o) structs -> explode (B6-B8)."""
        # stage runtime datatypeMap objects as named columns (janino
        # method-size guard — see the twin comment in _fused_frames)
        dtmap_idx = [
            idx
            for idx, pom in enumerate(tm.predicate_object_maps)
            if pom.parent_triples_map is None
            and pom.object is not None
            and pom.object.datatype_map is not None
        ]
        if dtmap_idx:
            records = _stage_in_batches(
                records,
                [
                    (f"__objp_{idx}", _compile_object(tm.predicate_object_maps[idx].object, resolve))
                    for idx in dtmap_idx
                ],
            )
        lt = tm.subject_map.logical_target
        graph = self._graph_column(tm, resolve)
        target_id = self._target_id(tm)
        s_ttype = effective_term_type(tm.subject_map.term_map, "subject")
        # the g_override struct field + final coalesce exist only when
        # this TM has inline POM-level graph maps (join POMs route
        # graphs inside _join_pom)
        has_pom_graphs = any(
            pom.graph_map is not None and pom.parent_triples_map is None
            for pom in tm.predicate_object_maps
        )

        structs: list[Column] = []
        for cls in tm.subject_map.classes:
            structs.append(
                _obj_struct(
                    F.lit(voc.RDF_TYPE),
                    F.lit(cls),
                    F.lit("IRI"),
                    F.lit(None).cast("string"),
                    F.lit(None).cast("string"),
                    F.lit(target_id),
                    emit_g_override=has_pom_graphs,
                )
            )
        join_poms: list[PredicateObjectMap] = []
        for idx, pom in enumerate(tm.predicate_object_maps):
            if pom.parent_triples_map is not None:
                join_poms.append(pom)
                continue
            pred = compile_term_map(pom.predicate, resolve, "predicate")
            obj = F.col(f"__objp_{idx}") if idx in dtmap_idx else _compile_object(pom.object, resolve)
            if pom.predicate.constant is None:
                # null predicate generation -> no triple (R2RML §11.1);
                # free for constant predicates
                obj = F.when(pred.isNotNull(), obj)
            ttype = effective_term_type(pom.object, "object")
            dtype_col = compile_datatype(pom.object, resolve)
            lang_col = compile_language(pom.object, resolve)
            if lifecycle_only and pom.object.constant is None:
                # delete events have no source record: only constant POMs
                # survive (reference keeps only rdf:type/lifecycle POMs on
                # delete TMs, /root/reference/src/rml/incrml.ts:554-576)
                continue
            pom_graphs: list[Column | None] = [None]  # None = subject graph
            pg_guard: Column | None = None
            if pom.graph_map is not None:
                pg = compile_term_map(pom.graph_map, resolve, "graph")
                pom_graphs = [None, pg] if tm.subject_map.graph_map is not None else [pg]
                if pom.graph_map.constant is None:
                    # data-derived POM graph: a null evaluation is a data
                    # error — DROP the quad (null the object; the explode
                    # filter removes it) rather than silently rerouting
                    # it to the subject/default graph via the coalesce
                    pg_guard = pg
            for tid in self._pom_target_ids(tm, pom):
                for g_ov in pom_graphs:
                    obj_c = obj
                    if g_ov is not None and pg_guard is not None:
                        obj_c = F.when(pg_guard.isNotNull(), obj)
                    structs.append(
                        _obj_struct(
                            pred,
                            obj_c,
                            F.lit(ttype),
                            dtype_col,
                            lang_col,
                            F.lit(tid),
                            g_override=g_ov,
                            emit_g_override=has_pom_graphs,
                        )
                    )

        base = records.withColumn("__s", subject).filter(F.col("__s").isNotNull())

        # LDES versioned members (B13): version IRI derived from warc_ts —
        # deterministic, never wall-clock (reference behavior README.md:43).
        ldes_frames: list[DataFrame] = []
        if lt is not None and lt.is_ldes:
            ts_col = (
                F.date_format(F.col(self.ldes_ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
                if self.ldes_ts_col in records.columns
                else F.lit(self.version_ts or "1970-01-01T00:00:00Z")
            )
            base = base.withColumn("__ts", ts_col)
            base = base.withColumn("__base_s", F.col("__s"))
            if lt.ldes_immutable_iri:
                # rmlt:ldesGenerateImmutableIRI: unique member version IRIs
                # + the dct:isVersionOf link back to the base entity
                base = base.withColumn(
                    "__s", F.concat(F.col("__s"), F.lit("#"), F.col("__ts"))
                )
                structs.append(
                    _obj_struct(
                        F.lit(lt.ldes_version_of_path or voc.DCT_IS_VERSION_OF),
                        F.col("__base_s"),
                        F.lit("IRI"),
                        F.lit(None).cast("string"),
                        F.lit(None).cast("string"),
                        F.lit(target_id),
                        emit_g_override=has_pom_graphs,
                    )
                )
            structs.append(
                _obj_struct(
                    F.lit(lt.ldes_timestamp_path or voc.DCT_MODIFIED),
                    F.col("__ts"),
                    F.lit("Literal"),
                    F.lit(_XSD_DATETIME),
                    F.lit(None).cast("string"),
                    F.lit(target_id),
                    emit_g_override=has_pom_graphs,
                )
            )
            if lt.ldes_base_iri:
                # rmlt:ldesBaseIRI names the event stream itself: every
                # member hangs off it via tree:member, and the stream's
                # metadata (type/timestampPath/versionOfPath/tree:shape)
                # is emitted once per run — the quads an LDES consumer
                # needs to traverse the stream
                # (/root/reference/src/rml/incrml.ts:303-338).
                ldes_frames.append(
                    base.select(
                        F.lit(lt.ldes_base_iri).alias("s"),
                        F.lit("IRI").alias("s_termtype"),
                        F.lit(voc.TREE_MEMBER).alias("p"),
                        F.col("__s").alias("o"),
                        F.lit("IRI").alias("o_termtype"),
                        F.lit(None).cast("string").alias("o_datatype"),
                        F.lit(None).cast("string").alias("o_lang"),
                        graph.alias("g"),
                        F.lit(target_id).alias("target_id"),
                    )
                )
                meta = [(voc.RDF_TYPE, voc.LDES_EVENT_STREAM)]
                meta.append((voc.LDES_TIMESTAMP_PATH, lt.ldes_timestamp_path or voc.DCT_MODIFIED))
                meta.append((voc.LDES_VERSION_OF_PATH, lt.ldes_version_of_path or voc.DCT_IS_VERSION_OF))
                if lt.ldes_shape:
                    meta.append((voc.TREE_SHAPE, lt.ldes_shape))
                # metadata has no record context: it can only share the
                # members' graph when the graph map is CONSTANT (a
                # record-dependent graph map leaves it in the default
                # graph) — splitting type/shape away from tree:member
                # rows would strand the stream description
                gm = tm.subject_map.graph_map
                meta_graph = gm.constant if gm is not None and gm.constant is not None else None
                ldes_frames.append(
                    self.spark.createDataFrame(
                        [
                            (lt.ldes_base_iri, "IRI", p, o, "IRI", None, None, meta_graph, target_id)
                            for p, o in meta
                        ],
                        ", ".join(f"{c} string" for c in TRIPLE_COLUMNS),
                    )
                )

        frames: list[DataFrame] = list(ldes_frames)
        if structs:
            g_col = (
                F.coalesce(F.col("__pom.g_override"), graph) if has_pom_graphs else graph
            )
            exploded = (
                base.withColumn("__pom", F.explode(F.array(*structs)))
                .select(
                    F.col("__s").alias("s"),
                    F.lit(s_ttype).alias("s_termtype"),
                    F.col("__pom.p").alias("p"),
                    F.col("__pom.o").alias("o"),
                    F.col("__pom.o_termtype").alias("o_termtype"),
                    F.col("__pom.o_datatype").alias("o_datatype"),
                    F.col("__pom.o_lang").alias("o_lang"),
                    g_col.alias("g"),
                    F.col("__pom.target_id").alias("target_id"),
                )
                .filter(F.col("o").isNotNull())
            )
            frames.append(exploded)

        for grp in _group_join_poms(join_poms):
            frames.append(self._join_pom(tm, grp, base, resolve, graph, by_name))

        return frames, {}

    def _join_pom(
        self,
        tm: TriplesMap,
        poms: list[PredicateObjectMap],
        child_base: DataFrame,
        resolve,
        graph: Column,
        by_name: dict[str, TriplesMap],
    ) -> DataFrame:
        """Referencing object maps (B9) sharing (rr:parentTriplesMap, join
        conditions): child.expr == parent.expr equi-join; object = parent
        subject IRI. Join strategy left to Catalyst/AQE (broadcast when the
        parent side is small, SMJ otherwise).

        ALL §6.3/§9-expanded variants of the group — m predicates × k
        graphs × t targets — ride ONE join: the per-variant (predicate,
        graph, target) triple travels as an array<struct> payload column
        on the child side and explodes AFTER the join, so the child×parent
        relation is shuffled exactly once per distinct (parent, join
        condition) pair instead of once per expanded POM copy (the
        child sides of the copies differ only in projected columns, so
        ReusedExchange could never collapse them). A single-variant group
        compiles the scalar fast path with no generator at all."""
        pom = poms[0]
        parent_tm = by_name.get(pom.parent_triples_map)
        if parent_tm is None:
            raise ValueError(f"parentTriplesMap {pom.parent_triples_map} not found")
        # R2RML §11: a referencing object map WITHOUT join conditions is
        # only valid when child and parent share the same logical source,
        # and means SAME-ROW evaluation (the joint query degenerates to
        # the child table itself) — the parent subject compiles directly
        # onto the child row: no join, no second scan, and never the
        # cross join that a condition-less DataFrame join would produce
        # (a scale hazard at web corpus sizes, not just a wrong answer).
        same_row = not pom.join_conditions
        if same_row:
            if parent_tm.logical_source != tm.logical_source:
                raise ValueError(
                    "referencing object map without rml:joinCondition requires "
                    f"identical logical sources (R2RML §11): {tm.name} -> {parent_tm.name}"
                )
            parent_subject_child = compile_term_map(
                parent_tm.subject_map.term_map, resolve, "subject"
            )
            join_exprs_child = []
        else:
            parent_refs = parent_tm.subject_map.term_map.references() + [
                r for jc in pom.join_conditions for r in jc.parent.references()
            ]
            parent_records = self._records(parent_tm.logical_source, parent_refs)
            parent_resolve = _resolver(set(parent_records.columns))
            parent_subject = compile_term_map(parent_tm.subject_map.term_map, parent_resolve, "subject")

            join_exprs_child = [compile_term_map(jc.child, resolve, "value") for jc in pom.join_conditions]
            join_exprs_parent = [compile_term_map(jc.parent, parent_resolve, "value") for jc in pom.join_conditions]

        # predicate/graph may be reference- or template-valued: they read
        # record columns, so they must be computed INTO the child side
        # before projecting it down to (s, join keys) — evaluating them
        # after the join would reference columns no longer in scope.
        # One payload entry per (POM variant, graph, target); pgflag marks
        # a data-derived POM graph whose null evaluation is a data error —
        # that quad is DROPPED, never rerouted to the default graph.
        entries: list[tuple[Column, Column, bool, str]] = []
        for p in poms:
            pred = compile_term_map(p.predicate, resolve, "predicate")
            gcols: list[tuple[Column, bool]] = [(graph, False)]
            if p.graph_map is not None:
                # R2RML §9 union: POM graph + subject graph(s)
                pg = compile_term_map(p.graph_map, resolve, "graph")
                pg_data_derived = p.graph_map.constant is None
                gcols = (
                    [(graph, False), (pg, pg_data_derived)]
                    if tm.subject_map.graph_map is not None
                    else [(pg, pg_data_derived)]
                )
            for gcol, pgflag in gcols:
                for tid in self._pom_target_ids(tm, p):
                    entries.append((pred, gcol, pgflag, tid))

        scalar = len(entries) == 1
        if scalar:
            pred, gcol, pgflag, tid = entries[0]
            child_side = child_base.select(
                F.col("__s").alias("s"),
                pred.alias("__p"),
                *([parent_subject_child.alias("__po")] if same_row else []),
                gcol.alias("__g"),
                *[e.alias(f"__ck{i}") for i, e in enumerate(join_exprs_child)],
            )
            if pgflag:
                child_side = child_side.filter(F.col("__g").isNotNull())
            if pom.predicate.constant is None:
                # null predicate generation -> no triple (R2RML §11.1)
                child_side = child_side.filter(F.col("__p").isNotNull())
        else:
            payload = F.array(
                *[
                    F.struct(
                        pred.cast("string").alias("p"),
                        gcol.cast("string").alias("g"),
                        F.lit(pgflag).alias("pgflag"),
                        F.lit(tid).alias("t"),
                    )
                    for pred, gcol, pgflag, tid in entries
                ]
            )
            child_side = child_base.select(
                F.col("__s").alias("s"),
                *([parent_subject_child.alias("__po")] if same_row else []),
                payload.alias("__poms"),
                *[e.alias(f"__ck{i}") for i, e in enumerate(join_exprs_child)],
            )
        s_ttype = effective_term_type(tm.subject_map.term_map, "subject")
        o_ttype = effective_term_type(parent_tm.subject_map.term_map, "subject")
        if same_row:
            joined = child_side.filter(F.col("__po").isNotNull())
        else:
            parent_side = parent_records.select(
                parent_subject.alias("__po"),
                *[e.alias(f"__pk{i}") for i, e in enumerate(join_exprs_parent)],
            ).filter(F.col("__po").isNotNull()).dropDuplicates()

            cond = None
            for i in range(len(poms[0].join_conditions)):
                c = F.col(f"__ck{i}") == F.col(f"__pk{i}")
                cond = c if cond is None else (cond & c)

            joined = child_side.join(parent_side, cond, "inner")
        if not scalar:
            # post-join variant explode: struct+filter stays in
            # whole-stage codegen (a HOF array filter would not)
            joined = joined.withColumn("__pom", F.explode(F.col("__poms"))).filter(
                ~(F.col("__pom.pgflag") & F.col("__pom.g").isNull())
            )
            if any(p.predicate.constant is None for p in poms):
                # null predicate generation -> no triple (R2RML §11.1)
                joined = joined.filter(F.col("__pom.p").isNotNull())
        return joined.select(
            F.col("s"),
            F.lit(s_ttype).alias("s_termtype"),
            (F.col("__p") if scalar else F.col("__pom.p")).alias("p"),
            F.col("__po").alias("o"),
            F.lit(o_ttype).alias("o_termtype"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
            (F.col("__g") if scalar else F.col("__pom.g")).alias("g"),
            (F.lit(tid) if scalar else F.col("__pom.t")).alias("target_id"),
        )


def execute_mapping(
    spark: SparkSession,
    mapping_turtle: str,
    source_bindings: dict[str, str] | None = None,
    **kwargs,
) -> ExecutionResult:
    """Convenience: parse + execute an RML mapping document."""
    from ..plans.rml_parser import parse_mapping

    plan = parse_mapping(mapping_turtle, source_bindings)
    return PlanExecutor(spark, **kwargs).execute(plan)
