"""Stateful CDC execution (SURVEY.md §2.B11).

The reference delegates idlab-fn:explicitCreate / implicitUpdate /
implicitDelete to file-backed state inside the Java engine (state paths
per (template, source, graph), /root/reference/src/rml/incrml.ts:524-537;
per-publisher re-keying at /root/reference/src/rml/rml.ts:302-370).

Spark-native semantics, per snapshot run against a persistent entity
registry keyed by (iri, publisher):

  * explicitCreate  — emit subjects unseen in state, then register them
    (the stored fingerprint wins). First snapshot of a publisher => all
    Create (observed end-to-end in the reference's test/rml.test.ts:954-974).
  * implicitUpdate  — emit subjects whose watched-properties fingerprint
    changed, then store the current fingerprint; subjects unseen in the
    snapshot keep their row.
  * implicitDelete  — emit subjects present in state but absent from the
    current snapshot, within the publishers the snapshot carries, then
    unregister them.

The publisher id is part of the composite state key (a groupBy-key
column, not a file-name rewrite): the Spark fix for the reference's
false-delete hazard documented at rml.ts:302-320.

:func:`execute_stateful` classifies every stateful TriplesMap of a plan
at once: the union of their current entities full-outer-joins the union
of their state tables on (TriplesMap, iri, publisher), one window scopes
delete to the snapshot's publishers, and the emit flag and new
fingerprint are columns of one checkpoint. The emitted triples and every
new state table read that checkpoint; the executor has already
checkpointed each stateful source, so the source is iterated once.
:func:`cdc_diff` is the same classification for one table, without the
publisher scope; it backs the gated ``cdc_diff`` query, not the
executor.

:class:`StateStore` keeps every state table of a store in one versioned
parquet directory per commit, behind one manifest: a step's tables move
together or not at all. At cluster scale the same layout is one Iceberg
table partitioned by state id.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ioutil import local_frame
from ..plans import voc
from ..plans.model import FunctionCall, TermMap, TriplesMap
from ..state import StateBackend
from .cc import _materialize
from .terms import compile_term_map, stateful_subject_spec

STATE_SCHEMA = "iri string, publisher string, watched_hash string"

# The IncRML rewriter emits watched-property fingerprints for non-XML
# sources as grel:array_join over CONSTANT params of the form
# 'propN=<reference>' (/root/reference/src/rml/incrml.ts:486-507). The
# reference's Java FnO implementation resolves the <reference> part
# dynamically against each record inside implicitUpdate; compiling the
# constant literally would make the fingerprint identical for every
# record and updates would never fire for CSV/JSON/table sources.
_WATCHED_CONST_RE = re.compile(r"^(prop\d+=)(.+)$", re.DOTALL)


def _watched_array_join(tm: TermMap) -> FunctionCall | None:
    if tm.function is not None and tm.function.function_iri == voc.GREL_ARRAY_JOIN:
        return tm.function
    return None


def compile_watched_term(tm: TermMap, resolve) -> Column:
    """Compile an idlab-fn:watchedProperty fingerprint expression.

    'propN=<ref>' array_join constants resolve <ref> against the record;
    a missing property contributes an empty segment (XPath '||' yields
    the empty string for absent nodes in the reference stack), never a
    null that would mask changes to the other watched properties."""
    fn = _watched_array_join(tm)
    if fn is None:
        return compile_term_map(tm, resolve, "value")
    from ..functions.fno import sorted_params

    sep_tm = fn.params.get(voc.GREL_PARAM_STRING_SEP)
    sep = sep_tm.constant if sep_tm is not None and sep_tm.constant is not None else "&"
    parts: list[Column] = []
    for key, p in sorted_params(fn):
        if voc.GREL_PARAM_A not in key and voc.GREL_PARAM_A_ALT not in key:
            continue
        m = _WATCHED_CONST_RE.match(p.constant) if p.constant is not None else None
        if m is not None:
            parts.append(F.concat(F.lit(m.group(1)), F.coalesce(resolve(m.group(2)), F.lit(""))))
        else:
            parts.append(F.coalesce(compile_term_map(p, resolve, "value"), F.lit("")))
    return F.concat_ws(sep, *parts)


def watched_references(tm: TermMap) -> list[str]:
    """Source references a watchedProperty term reads — including the
    <ref> parts of 'propN=<ref>' array_join constants, so the executor's
    scan planning selects the watched columns."""
    from ..functions.fno import sorted_params

    refs = list(tm.references())
    fn = _watched_array_join(tm)
    if fn is not None:
        for key, p in sorted_params(fn):
            if (voc.GREL_PARAM_A in key or voc.GREL_PARAM_A_ALT in key) and p.constant is not None:
                m = _WATCHED_CONST_RE.match(p.constant)
                if m is not None and m.group(2) not in refs:
                    refs.append(m.group(2))
    return refs


def _union(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _md5(state_id: str) -> str:
    return hashlib.md5(state_id.encode()).hexdigest()


class StateStore(StateBackend):
    """Versioned parquet state under ``root``: every commit writes one
    ``v_N`` directory holding all the tables of the step, partitioned by
    ``state=md5(state_id)``, then replaces the store-wide ``LATEST``
    manifest ``{"version": N, "tables": {state_id: partition path}}``.

    ``read`` resolves a state id through the manifest (empty frame if it
    was never committed or its table was empty). ``commit_all`` is
    atomic across its tables: the manifest moves with one ``os.replace``
    after the parquet write, so a killed commit leaves every table at its
    previous version, and replaying the step overwrites the orphaned
    ``v_N``. Tables absent from a step keep their partition path. Once
    the manifest has moved, every ``v_N`` it does not point into is
    removed, so the root holds the current state, not its history. This
    is the local-filesystem stand-in for an Iceberg state table: one
    version directory ≙ one Iceberg snapshot, the manifest ≙ the
    current snapshot id.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        for name in sorted(os.listdir(root)):
            old = os.path.join(root, name)
            if os.path.isfile(os.path.join(old, "LATEST")):
                raise ValueError(
                    f"state root {root!r} holds a per-table state directory ({old}) "
                    "from the older one-pointer-per-table layout, which this store "
                    "does not read; the state must be rebuilt from an empty root"
                )

    def _manifest(self) -> dict:
        path = os.path.join(self.root, "LATEST")
        if not os.path.exists(path):
            return {"version": 0, "tables": {}}
        with open(path) as fh:
            return json.load(fh)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = os.path.join(self.root, "LATEST.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, "LATEST"))

    def read(self, state_id: str) -> DataFrame:
        part = self._manifest()["tables"].get(state_id)
        if part is None:
            return local_frame(self.spark, [], STATE_SCHEMA)
        # the schema is always STATE_SCHEMA: passing it skips the
        # footer-reading job schema inference would start
        return self.spark.read.schema(STATE_SCHEMA).parquet(os.path.join(self.root, part))

    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        if not updates:
            return {}
        manifest = self._manifest()
        v = manifest["version"] + 1
        out = os.path.join(self.root, f"v_{v}")
        frames = [
            df.select("iri", "publisher", "watched_hash", F.lit(_md5(sid)).alias("state"))
            for sid, df in updates.items()
        ]
        _union(frames).write.mode("overwrite").partitionBy("state").parquet(out)
        # an empty table writes no partition; it reads as an empty frame
        written = set(os.listdir(out))
        tables = dict(manifest["tables"])
        for sid in updates:
            part = f"state={_md5(sid)}"
            tables[sid] = f"v_{v}/{part}" if part in written else None
        self._write_manifest({"version": v, "tables": tables})
        self._remove_unreferenced(tables)
        return {sid: v for sid in updates}

    def _remove_unreferenced(self, tables: dict) -> None:
        """Remove every version directory no table of the manifest points
        into: superseded versions, and a version whose tables were all
        empty. It runs after the manifest moved, so a crash here leaves
        only unreferenced directories, which the next commit removes."""
        live = {part.split("/", 1)[0] for part in tables.values() if part is not None}
        for name in os.listdir(self.root):
            if name.startswith("v_") and name not in live:
                shutil.rmtree(os.path.join(self.root, name))


def cdc_diff(current: DataFrame, state: DataFrame, key: list[str] | None = None) -> DataFrame:
    """The pure CDC kernel (B11): one full-outer join of the current
    snapshot vs the registered state classifies every entity as
    create / update / delete / unchanged.

    Both inputs need the key columns plus ``watched_hash``. This is the
    single-shuffle formulation: Catalyst plans one join on the key, AQE
    handles skew; at cluster scale the same expression drives an Iceberg
    MERGE INTO."""
    key = key or ["iri"]
    cur = current.select(*key, F.col("watched_hash").alias("__cur_hash")).dropDuplicates(key)
    st = state.select(*key, F.col("watched_hash").alias("__st_hash")).dropDuplicates(key)
    joined = cur.join(st, key, "full_outer")
    lifecycle = (
        F.when(F.col("__st_hash").isNull(), F.lit("create"))
        .when(F.col("__cur_hash").isNull(), F.lit("delete"))
        .when(F.col("__cur_hash") != F.col("__st_hash"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(*key, lifecycle.alias("lifecycle")).filter(F.col("lifecycle") != "unchanged")


_CREATE, _UPDATE, _DELETE = 0, 1, 2
_EVENT_CODES = {
    voc.IDLAB_EXPLICIT_CREATE: _CREATE,
    voc.IDLAB_IMPLICIT_UPDATE: _UPDATE,
    voc.IDLAB_IMPLICIT_DELETE: _DELETE,
}
_KEY = ["tm", "iri", "publisher"]


@dataclass
class _Event:
    """The Columns of one stateful TriplesMap in :func:`execute_stateful`."""

    state_id: str
    # the records plus the entity (__s), publisher and fingerprint
    base: list[Column]
    s_present: Column
    current: list[Column]
    state: list[Column]
    # this TriplesMap's classified rows, and their emitted entities
    mine: Column
    emitted: list[Column]
    # delete: the TriplesMap cut to what a state row can project
    lifecycle: TriplesMap | None = None


def _compile_event(executor, pos: int, tm: TriplesMap, columns: list[str], resolve) -> _Event:
    fn = stateful_subject_spec(tm.subject_map.term_map)
    event = fn.function_iri
    if event not in _EVENT_CODES:
        raise ValueError(f"unknown stateful function {event}")
    iri_tm = fn.params.get(voc.IDLAB_IRI)
    if iri_tm is None:
        raise ValueError(f"{event} without idlab-fn:iri parameter")
    state_tm = fn.params.get(voc.IDLAB_STATE)
    if state_tm is None or state_tm.constant is None:
        raise ValueError(f"{event} without constant idlab-fn:state parameter")
    watched_tm = fn.params.get(voc.IDLAB_WATCHED_PROPERTY)
    watched = compile_watched_term(watched_tm, resolve) if watched_tm is not None else F.lit("")
    if executor.publisher_ref is not None:
        # record-reference form: the id is reachable through the iterator
        publisher = resolve(executor.publisher_ref)
    elif "__publisher_doc" in columns:
        # raw-document regex form (A7 exact parity): regexp_extract over
        # the payload BEFORE iteration, stamped as a passthrough column
        # (reference: incRMLStateIndex, rml.ts:322-324)
        publisher = F.col("__publisher_doc")
    else:
        publisher = F.lit("")
    code = _EVENT_CODES[event]
    lifecycle = None
    if code == _DELETE:
        # deleted subjects have no source record: project constant-only
        # POMs (rdf:type / lifecycle) from the state rows themselves (the
        # reference keeps only rdf:type/lifecycle POMs on delete TMs,
        # src/rml/incrml.ts:554-576)
        lifecycle = replace(
            tm,
            predicate_object_maps=[
                pom
                for pom in tm.predicate_object_maps
                if pom.parent_triples_map is not None or pom.object.constant is not None
            ],
        )
    return _Event(
        state_id=state_tm.constant,
        base=[
            F.col("*"),
            compile_term_map(iri_tm, resolve, "subject").alias("__s"),
            F.coalesce(publisher, F.lit("")).alias("__publisher"),
            F.conv(F.hex(F.xxhash64(F.coalesce(watched, F.lit("")))), 16, 10).alias("__watched_hash"),
        ],
        s_present=F.col("__s").isNotNull(),
        current=[
            F.lit(pos).alias("tm"),
            F.lit(code).alias("event"),
            F.col("__s").alias("iri"),
            F.col("__publisher").alias("publisher"),
            F.col("__watched_hash").alias("cur_hash"),
        ],
        state=[
            F.lit(pos).alias("tm"),
            F.lit(code).alias("st_event"),
            F.col("iri"),
            F.col("publisher"),
            F.col("watched_hash").alias("st_hash"),
        ],
        mine=F.col("tm") == pos,
        emitted=[F.col("iri").alias("__s"), F.col("publisher").alias("__publisher")],
        lifecycle=lifecycle,
    )


@dataclass
class _Classification:
    """The Columns :func:`execute_stateful` classifies all events with."""

    in_cur: Column
    in_st: Column
    classified: list[Column]
    kept: Column
    new_state: list[Column]


def _compile_classification() -> _Classification:
    event = F.coalesce(F.col("event"), F.col("st_event"))
    in_cur = F.col("in_cur").isNotNull()
    in_st = F.col("in_st").isNotNull()
    # delete is evaluated only within publishers present in THIS
    # snapshot — a publisher's absence must not delete other publishers'
    # entities (the false-delete hazard the reference fixes by re-keying
    # state files per publisher, rml.ts:302-320; here it is a window over
    # the composite key's publisher part)
    live = F.max(in_cur).over(Window.partitionBy("tm", "publisher"))
    emit = (
        F.when(event == _CREATE, in_cur & ~in_st)
        .when(event == _UPDATE, in_cur & in_st & (F.col("cur_hash") != F.col("st_hash")))
        .otherwise(in_st & ~in_cur & live)
    )
    # create keeps the stored fingerprint; update and delete store the
    # current one, and rows unseen in this snapshot keep theirs
    watched_hash = F.when(event == _CREATE, F.coalesce("st_hash", "cur_hash")).otherwise(
        F.coalesce("cur_hash", "st_hash")
    )
    return _Classification(
        in_cur=F.lit(True),
        in_st=F.lit(True),
        classified=[
            F.col("tm"),
            F.col("iri"),
            F.col("publisher"),
            emit.alias("emit"),
            watched_hash.alias("watched_hash"),
        ],
        kept=~F.col("emit"),
        new_state=[F.col("iri"), F.col("publisher"), F.col("watched_hash")],
    )


def execute_stateful(
    executor,
    stateful: list[tuple[int, TriplesMap, DataFrame, object]],
    by_name: dict[str, TriplesMap],
):
    """Run every CDC TriplesMap of one plan in one classification;
    returns (frames, state_updates).

    ``stateful`` holds ``(position in the plan, TriplesMap, records,
    reference resolver)``. The current entities of all of them are
    full-outer-joined with the union of their state tables on
    ``(tm, iri, publisher)``, the emit decision and the new fingerprint
    become columns, and the result is checkpointed once.
    Each emit frame and each new state table reads that checkpoint."""
    if executor.state_store is None:
        names = ", ".join(tm.name for _, tm, _, _ in stateful)
        raise ValueError(f"TriplesMaps {names} use stateful FnO functions but no state_store configured")
    owners: dict[str, str] = {}
    specs = []
    current = []
    states = []
    for pos, tm, records, resolve in stateful:
        ev = executor._compiled(
            (tm.name, "cdc", tuple(records.columns)),
            lambda: _compile_event(executor, pos, tm, records.columns, resolve),
        )
        if ev.state_id in owners:
            raise ValueError(
                f"TriplesMaps {owners[ev.state_id]} and {tm.name} share idlab-fn:state "
                f"{ev.state_id!r}; each stateful TriplesMap needs its own state table"
            )
        owners[ev.state_id] = tm.name
        base = records.select(*ev.base).filter(ev.s_present)
        specs.append((tm, ev, base, resolve))
        current.append(base.select(*ev.current))
        states.append(executor.state_store.read(ev.state_id).select(*ev.state))

    c = executor._compiled(("cdc",), _compile_classification)
    cur = _union(current).dropDuplicates(_KEY).withColumn("in_cur", c.in_cur)
    st = _union(states).withColumn("in_st", c.in_st)
    classified = _materialize(cur.join(st, _KEY, "full_outer").select(*c.classified))

    frames: list[DataFrame] = []
    state_updates: dict[str, DataFrame] = {}
    for tm, ev, base, resolve in specs:
        rows = classified.filter(ev.mine)
        emitted = rows.filter("emit").select(*ev.emitted)
        if ev.lifecycle is not None:
            frames.extend(
                executor._project([ev.lifecycle], emitted, _null_resolver(), by_name, "__s", role="delete")
            )
            rows = rows.filter(c.kept)
        else:
            emit_frame = base.join(emitted, ["__s", "__publisher"], "left_semi")
            frames.extend(executor._project([tm], emit_frame, resolve, by_name, "__s", role="emit"))
        state_updates[ev.state_id] = rows.select(*c.new_state)
    return frames, state_updates


def _null_resolver():
    def resolve(ref: str):
        return F.lit(None).cast("string")

    return resolve
