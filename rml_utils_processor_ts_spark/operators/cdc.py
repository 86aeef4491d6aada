"""Stateful CDC execution (SURVEY.md §2.B11).

The reference delegates idlab-fn:explicitCreate / implicitUpdate /
implicitDelete to file-backed state inside the Java engine (state paths
per (template, source, graph), /root/reference/src/rml/incrml.ts:524-537;
per-publisher re-keying at /root/reference/src/rml/rml.ts:302-370).

Spark-native semantics, per snapshot run against a persistent entity
registry keyed by (iri, publisher):

  * explicitCreate  — emit subjects unseen in state (left-anti vs state),
    then register them. First snapshot of a publisher => all Create
    (observed end-to-end, /root/reference/test/rml.test.ts:954-974).
  * implicitUpdate  — emit subjects whose watched-properties fingerprint
    changed (inner join, hash mismatch), then update the fingerprint.
  * implicitDelete  — emit subjects present in state but absent from the
    current snapshot (state LEFT ANTI current), then unregister.

The publisher id is part of the composite state key (a groupBy-key
column, not a file-name rewrite): the Spark fix for the reference's
false-delete hazard documented at rml.ts:302-320.

Each event joins the current entities against its own state table:
left-anti for create, inner for update, semi-then-anti for delete (all
AQE-managed, on (iri, publisher)). The executor checkpoints each
stateful source once per execution, so the emitted triples and the
three new-state frames read one iteration of the source.
:func:`cdc_diff` is the single full-outer-join form of the same
classification; it backs the gated ``cdc_diff`` query, not the
executor.

State is a versioned parquet table per state id (Iceberg-style snapshot
dirs + a latest pointer) — resumable, atomic repoint, time-travelable.
At cluster scale the same layout is an Iceberg table written with
MERGE INTO.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import voc
from ..plans.model import FunctionCall, TermMap, TriplesMap
from ..state import StateBackend
from .terms import compile_term_map

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


class StateStore(StateBackend):
    """Versioned parquet state tables under ``root/<md5(state_id)>/v_N``.

    ``read`` returns the latest committed snapshot (empty frame if none);
    ``commit`` writes v_{N+1} and atomically repoints ``LATEST``. This is
    the sandbox stand-in for an Iceberg state table: same snapshot
    semantics, same resume story (the LATEST pointer ≙ current snapshot
    id; a killed run never half-updates state).

    One implementation of the :class:`rml_utils_processor_ts_spark.state.
    StateBackend` seam — the executor/streaming layers type against the
    interface, so ``state.IcebergStateStore`` (which documents the
    per-transition MERGE INTO mapping) drops in when the runtime jars
    exist.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, state_id: str) -> str:
        return os.path.join(self.root, hashlib.md5(state_id.encode()).hexdigest())

    def _latest_version(self, state_id: str) -> int:
        pointer = os.path.join(self._dir(state_id), "LATEST")
        if not os.path.exists(pointer):
            return 0
        with open(pointer) as fh:
            return int(fh.read().strip())

    def read(self, state_id: str) -> DataFrame:
        v = self._latest_version(state_id)
        if v == 0:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.parquet(os.path.join(self._dir(state_id), f"v_{v}"))

    def commit(self, state_id: str, df: DataFrame) -> int:
        v = self._latest_version(state_id) + 1
        d = self._dir(state_id)
        os.makedirs(d, exist_ok=True)
        df.write.mode("overwrite").parquet(os.path.join(d, f"v_{v}"))
        tmp = os.path.join(d, "LATEST.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, os.path.join(d, "LATEST"))
        return v

    def commit_all(self, updates: dict[str, DataFrame]) -> dict[str, int]:
        return {sid: self.commit(sid, df) for sid, df in updates.items()}


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


def execute_stateful_tm(
    executor,
    tm: TriplesMap,
    fn: FunctionCall,
    records: DataFrame,
    resolve,
    by_name: dict[str, TriplesMap],
):
    """Run one CDC TriplesMap; returns (frames, state_updates)."""
    if executor.state_store is None:
        raise ValueError(f"TriplesMap {tm.name} uses stateful FnO functions but no state_store configured")
    event = fn.function_iri
    iri_tm = fn.params.get(voc.IDLAB_IRI)
    if iri_tm is None:
        raise ValueError(f"{event} without idlab-fn:iri parameter")
    state_tm = fn.params.get(voc.IDLAB_STATE)
    if state_tm is None or state_tm.constant is None:
        raise ValueError(f"{event} without constant idlab-fn:state parameter")
    state_id = state_tm.constant

    subject = compile_term_map(iri_tm, resolve, "subject")
    watched_tm = fn.params.get(voc.IDLAB_WATCHED_PROPERTY)
    watched = (
        compile_watched_term(watched_tm, resolve)
        if watched_tm is not None
        else F.lit("")
    )
    if executor.publisher_ref is not None:
        # record-reference form: the id is reachable through the iterator
        publisher = resolve(executor.publisher_ref)
    elif "__publisher_doc" in records.columns:
        # raw-document regex form (A7 exact parity): regexp_extract over
        # the payload BEFORE iteration, stamped as a passthrough column
        # (reference: incRMLStateIndex, rml.ts:322-324)
        publisher = F.col("__publisher_doc")
    else:
        publisher = F.lit("")

    base = (
        records.withColumn("__s", subject)
        .filter(F.col("__s").isNotNull())
        .withColumn("__publisher", F.coalesce(publisher, F.lit("")))
        .withColumn("__watched_hash", F.conv(F.hex(F.xxhash64(F.coalesce(watched, F.lit("")))), 16, 10))
    )

    state = executor.state_store.read(state_id)
    current_entities = base.select(
        F.col("__s").alias("iri"),
        F.col("__publisher").alias("publisher"),
        F.col("__watched_hash").alias("watched_hash"),
    ).dropDuplicates(["iri", "publisher"])

    key = ["iri", "publisher"]
    if event == voc.IDLAB_EXPLICIT_CREATE:
        emit_entities = current_entities.join(state, key, "left_anti")
        new_state = state.unionByName(emit_entities).dropDuplicates(key)
        emit = base.join(
            emit_entities.select(F.col("iri").alias("__s"), F.col("publisher").alias("__publisher")),
            ["__s", "__publisher"],
            "left_semi",
        )
        frames, _ = executor._project_tm(tm, emit, resolve, F.col("__s"), by_name)
        return frames, {state_id: new_state}

    if event == voc.IDLAB_IMPLICIT_UPDATE:
        changed = (
            current_entities.alias("cur")
            .join(state.alias("st"), key, "inner")
            .filter(F.col("cur.watched_hash") != F.col("st.watched_hash"))
            .select("cur.iri", "cur.publisher")
        )
        # state upsert: seen entities get current hashes; unseen-in-current rows survive
        new_state = (
            state.alias("st")
            .join(current_entities.alias("cur"), key, "left_anti")
            .unionByName(current_entities)
        )
        emit = base.join(
            changed.select(F.col("iri").alias("__s"), F.col("publisher").alias("__publisher")),
            ["__s", "__publisher"],
            "left_semi",
        )
        frames, _ = executor._project_tm(tm, emit, resolve, F.col("__s"), by_name)
        return frames, {state_id: new_state}

    if event == voc.IDLAB_IMPLICIT_DELETE:
        # Delete is evaluated only within publishers present in THIS
        # snapshot — a publisher's absence must not delete other
        # publishers' entities (the false-delete hazard the reference
        # fixes by re-keying state files per publisher, rml.ts:302-320;
        # here it is a semi-join on the composite key's publisher part).
        current_publishers = current_entities.select("publisher").distinct()
        deleted = state.join(current_publishers, "publisher", "left_semi").join(
            current_entities, key, "left_anti"
        )
        new_state = state.join(current_publishers, "publisher", "left_anti").unionByName(
            current_entities
        )
        # deleted subjects have no source record: project constant-only POMs
        # (rdf:type / lifecycle) from the state rows themselves.
        emit = deleted.select(
            F.col("iri").alias("__s"), F.col("publisher").alias("__publisher")
        )
        frames, _ = executor._project_tm(
            tm, emit, _null_resolver(), F.col("__s"), by_name, lifecycle_only=True
        )
        return frames, {state_id: new_state}

    raise ValueError(f"unknown stateful function {event}")


def _null_resolver():
    def resolve(ref: str):
        return F.lit(None).cast("string")

    return resolve
