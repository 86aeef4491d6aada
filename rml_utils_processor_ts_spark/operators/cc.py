"""Iterative connected components over an edge DataFrame — the
canonicalization kernel (north_rule: "canonicalization via iterative
connected-components over a salted, hash-partitioned edge DataFrame").

Hash-to-min label propagation with pointer jumping (Rastogi et al.,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds",
ICDE'13 family): a static symmetric edge table plus a (node, comp)
label table; each round propagates the neighborhood min into the labels
(one join + one groupBy), then pointer-jumps comp := comp(comp) (one
self-join). Converges in O(log d) rounds via doubling.

Scale notes:
  * Rounds are two hash-shuffles (edge join on node id, label groupBy)
    plus one self-join keyed by component id. A giant component makes
    that jump join skewed on its comp key — AQE skew-join splitting
    handles it (the 100k-spoke hub stress exercises exactly this
    shape). For pre-join hot-key splitting see operators/skew.py.
  * The edge table is materialized ONCE — per-round shuffle volume is
    |E| + |V|. Labels are (node, comp) pairs: |V| rows regardless of
    round.
  * Under the ``hint_broadcast`` cap the label table is broadcast in
    the pointer jump and the convergence probe, which stop shuffling.
  * `localCheckpoint` between rounds truncates the lineage so the plan
    doesn't grow exponentially across iterations (a known failure mode
    of iterative DataFrame jobs).
  * Components labeled by min node id (deterministic; string
    comparison if ids are strings).
"""

from __future__ import annotations

import functools
import logging
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# spark.sql.constraintPropagation is SESSION-global: two threads
# toggling it independently can re-enable it mid-localCheckpoint in the
# other thread and resurrect the Spark 4.1.2 UnionBase.rewriteConstraints
# crash. One reentrant lock serializes every guarded region (cc loops,
# snapshot/micro-batch materialization).
_CP_LOCK = threading.RLock()
_CP_KEY = "spark.sql.constraintPropagation.enabled"


@contextmanager
def constraint_propagation_disabled(spark):
    with _CP_LOCK:
        before = spark.conf.get(_CP_KEY, "true")
        spark.conf.set(_CP_KEY, "false")
        try:
            yield
        finally:
            spark.conf.set(_CP_KEY, before)


def _materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage between CC rounds (iterative DataFrame jobs grow
    exponential plans otherwise). Fast path: localCheckpoint. Spark
    4.1.2's checkpoint normalization sporadically crashes with
    NoSuchElementException in AttributeMap on plans whose union/join
    branches share attribute ids; fall back to an RDD roundtrip (same
    lineage cut, pays one Python serde pass). On a real cluster this is
    ``checkpoint()`` against the HDFS checkpoint dir."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception as exc:  # noqa: BLE001 — Py4JJavaError, resolver bug
        log.warning("localCheckpoint failed (%s); falling back to an RDD round-trip", type(exc).__name__)
        spark = df.sparkSession
        return spark.createDataFrame(df.rdd, df.schema).localCheckpoint(eager=True)


_BROADCAST_MAX_ROWS_DEFAULT = 2_000_000


@functools.lru_cache(maxsize=8)
def _broadcast_max_rows(raw: str | None) -> int:
    """Parse the RML_BROADCAST_MAX_ROWS value once per distinct string;
    a malformed value falls back to the default with one warning."""
    try:
        return _BROADCAST_MAX_ROWS_DEFAULT if raw is None else int(raw)
    except ValueError:
        log.warning("RML_BROADCAST_MAX_ROWS=%r is not an integer; using %d", raw, _BROADCAST_MAX_ROWS_DEFAULT)
        return _BROADCAST_MAX_ROWS_DEFAULT


def hint_broadcast(df: DataFrame, rows: int) -> DataFrame:
    """Join-strategy gate (guide §3.1 "broadcast the side that fits"):
    ``df`` hinted broadcast when ``rows`` is at most RML_BROADCAST_MAX_ROWS
    (default 2M), else returned unchanged.

    Frames out of ``_materialize`` carry no size statistics, so Catalyst
    never broadcasts them on its own; callers pass an exact row count
    taken over checkpointed blocks. At ~100-200 B/row built, the default
    is a few hundred MB, far under the 8 GB broadcast hard cap. Over the
    cap (web scale) the shuffle join is kept; ``=0`` forces it."""
    if rows <= _broadcast_max_rows(os.environ.get("RML_BROADCAST_MAX_ROWS")):
        return F.broadcast(df)
    return df


def connected_components(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """edges(src,dst) -> (node, component) with component = min node id
    in the component (string comparison if ids are strings — callers
    should zero-pad or cast for numeric semantics)."""
    # Root cause of the sporadic localCheckpoint crashes in this loop:
    # UnionBase.rewriteConstraints (constraint propagation across union
    # children whose attribute maps went stale under relation dedup,
    # Spark 4.1.2). Constraints buy nothing for this loop's plans (no
    # filters to infer), so disable propagation for its duration.
    with constraint_propagation_disabled(edges.sparkSession):
        return _cc_loop_hashmin(edges, max_iterations)


def _cc_loop_hashmin(edges: DataFrame, max_iterations: int) -> DataFrame:
    # ONE setup shuffle builds the static symmetric edge table: both
    # directions union map-side, hash-repartition by the join key u,
    # then dropDuplicates — partitioning by u satisfies the (u,v)
    # distinct's ClusteredDistribution, so no second exchange. sym is
    # the probe side of EVERY round's propagate join and localCheckpoint
    # preserves the LogicalRDD's outputPartitioning, so each round's
    # join plans with the sym side already satisfied (guide §2.4 "share
    # one exchange"), shuffling only the label table per round. The
    # probe's u<v half-edge set is a narrow filter of the same blocks
    # (the old shape paid a distinct shuffle AND a separate sym
    # materialization).
    raw = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    sym = _materialize(
        raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )
    e = sym.filter(F.col("u") < F.col("v"))
    # labels seeded with min(node, min neighbor) — one round of
    # propagation for free, and every node of sym is covered
    lab = _materialize(
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mn")).alias("comp"),
        )
    )
    # Label-table gate: shuffled, the jumps + probes were ~19 sequential
    # stage barriers at bench scale (14 task-seconds over 5 s wall);
    # broadcast, the probe is one stage over the edge blocks. |V| is
    # exact and constant across rounds.
    n_nodes = lab.count()
    for _ in range(max_iterations):
        # propagate: comp'(v) = min(comp(v), min over neighbors comp(u))
        upd = sym.join(lab, sym["u"] == lab["node"]).select(
            F.col("v").alias("node"), F.col("comp")
        )
        lab2 = (
            lab.select("node", "comp")
            .union(upd)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp''(v) = comp'(comp'(v)) — doubling keeps the
        # round count logarithmic in component diameter. Alias-qualified
        # refs: derived-frame df["col"] mis-resolves on self-joins.
        m = hint_broadcast(
            lab2.select(F.col("node").alias("jn"), F.col("comp").alias("jc")), n_nodes
        )
        lab = _materialize(
            lab2.alias("L")
            .join(m.alias("R"), F.col("L.comp") == F.col("R.jn"), "left")
            .select(
                F.col("L.node").alias("node"),
                F.least(
                    F.col("L.comp"),
                    F.coalesce(F.col("R.jc"), F.col("L.comp")),
                ).alias("comp"),
            )
        )
        # Convergence = edge-consistency: comp(u) == comp(v) on EVERY
        # edge. That alone certifies the min labeling — label values
        # are always ids of same-component nodes (so >= the component
        # min m, by induction over seed/propagate/jump), a consistent
        # labeling is constant per component, and the constant c* is a
        # member with comp(c*) = c* <= c* forced down to m because
        # comp(m) <= m. Detects the fixpoint AT the converged round —
        # one full round earlier than waiting for two identical label
        # signatures (r9, probe on the u<v half-edge set, early-out
        # via limit 1).
        # both hints broadcast the SAME checkpointed frame, so the
        # exchange is built once and reused for the second join
        lab_a = hint_broadcast(lab.alias("A"), n_nodes)
        lab_b = hint_broadcast(lab.alias("B"), n_nodes)
        inconsistent = (
            e.join(lab_a, e["u"] == F.col("A.node"))
            .join(lab_b, e["v"] == F.col("B.node"))
            .filter(F.col("A.comp") != F.col("B.comp"))
            .limit(1)
            .count()
        )
        if inconsistent == 0:
            break
    return lab.select("node", F.col("comp").alias("component"))


def canonicalize_triples(triples: DataFrame, same_as_edges: DataFrame) -> DataFrame:
    """Rewrite subject/object IRIs through the canonical map produced by
    connected components over sameAs edges (entity merge).

    Join strategy (guide §3.1): the node->canonical map is proportional
    to the merged-entity count, but cc output is checkpointed
    (LogicalRDD, no size statistics — Catalyst estimates it huge), so
    without a hint BOTH rewrite joins shuffle the full triple table by
    s/o. The map's true size is one cheap count over the checkpointed
    blocks: under the ``hint_broadcast`` cap the map is hinted broadcast
    and the triple table never shuffles; at web scale the map is
    billions of rows, the gate stays off, and the shuffle-join path must
    remain correct (tested with the gate forced off)."""
    comp = connected_components(same_as_edges)
    mapping = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node"), F.col("component").alias("canon")
    )
    mapping = hint_broadcast(mapping, mapping.count())
    t = triples
    for col in ("s", "o"):
        m = mapping.withColumnRenamed("node", f"__{col}_node").withColumnRenamed("canon", f"__{col}_canon")
        cond = t[col] == m[f"__{col}_node"]
        if col == "o":
            cond = cond & (t["o_termtype"] == "IRI")
        t = (
            t.join(m, cond, "left")
            .withColumn(col, F.coalesce(F.col(f"__{col}_canon"), F.col(col)))
            .drop(f"__{col}_node", f"__{col}_canon")
        )
    return t
