"""Connected components and the broadcast join gate (operators/cc.py).

The hash-min loop is checked against ``naive_cc.components``, a
pure-Python union-find written independently of it. The gate
(``hint_broadcast``) is checked at its three plan-visible sites —
``canonicalize_triples``, ``keep_canonical`` and ``minhash_dedup_pairs``
— for the join strategy it picks at the default cap and with
``RML_BROADCAST_MAX_ROWS=0``, and for identical rows either way. The
fourth site, the label table inside the cc loop, is checked by
labeling: its frames are checkpointed inside the loop, so no caller
can see their plans.
"""

from __future__ import annotations

import hashlib
import logging
import re

import pytest
from naive_cc import components as union_find_components

from rml_utils_processor_ts_spark.operators import cc
from rml_utils_processor_ts_spark.operators.cc import (
    canonicalize_triples,
    connected_components,
)
from rml_utils_processor_ts_spark.operators.dedup import keep_canonical, minhash_dedup_pairs


def _labels(spark, edges) -> dict:
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def _pseudorandom_hub_graph():
    edges = []
    for i in range(400):
        h = int(hashlib.md5(f"r9e{i}".encode()).hexdigest()[:8], 16)
        a, b = f"n{h % 200:04d}", f"n{(h // 200) % 200:04d}"
        if a != b:
            edges.append((a, b))
    return edges + [("hub", f"n{i:04d}") for i in range(30)]


def test_cc_hashmin_equals_union_find_on_pseudorandom_graph(spark):
    edges = _pseudorandom_hub_graph()
    got = _labels(spark, edges)
    assert got == union_find_components(edges) and got


def test_cc_hashmin_deep_chain_within_round_budget(spark):
    """A 200-deep chain converges under the default max_iterations via
    pointer doubling (O(log d) rounds, not O(d))."""
    edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(200)]
    got = _labels(spark, edges)
    assert got == union_find_components(edges)
    assert set(got.values()) == {"c0000"} and len(got) == 201


def test_union_find_oracle_basics():
    got = union_find_components([("b", "a"), ("c", "b"), ("x", "x"), ("z", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


# ---- the broadcast gate ----------------------------------------------------


@pytest.fixture(scope="module")
def gate_graph_edges():
    """Deep chain + pseudorandom background + hub: multi-round
    convergence, so the label-table gate fires in every round."""
    edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(120)]
    for i in range(300):
        h = int(hashlib.md5(f"bg{i}".encode()).hexdigest()[:8], 16)
        a, b = f"n{h % 150:04d}", f"n{(h // 150) % 150:04d}"
        if a != b:
            edges.append((a, b))
    return edges + [("hub", f"n{i:04d}") for i in range(25)]


def test_cc_broadcast_gate_identical_labeling(spark, gate_graph_edges, monkeypatch):
    monkeypatch.setenv("RML_BROADCAST_MAX_ROWS", "2000000")  # gate fires (tiny |V|)
    bcast = _labels(spark, gate_graph_edges)
    monkeypatch.setenv("RML_BROADCAST_MAX_ROWS", "0")  # gate forced off
    shuffle = _labels(spark, gate_graph_edges)
    assert bcast == shuffle == union_find_components(gate_graph_edges)
    assert "c0000" in set(bcast.values())  # the chain collapsed to its min node


_JOIN = re.compile(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], (\w+)")


def _join_ops(df, join_type: str) -> list[str]:
    """Physical operators of every ``join_type`` join in the plan Spark
    executes (the adaptive plan's initial plan, which the hint shapes)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [op for op, jt in _JOIN.findall(plan) if jt == join_type]


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _triples_and_same_as(spark):
    triples = spark.createDataFrame(
        [(f"e{i}", "IRI", "http://x/p", f"e{(i + 1) % 12}", "IRI") for i in range(12)]
        + [(f"e{i}", "IRI", "http://x/name", f"e{i}", "Literal") for i in range(12)],
        "s string, s_termtype string, p string, o string, o_termtype string",
    )
    same_as = spark.createDataFrame(
        [("e1", "e0"), ("e2", "e1"), ("e5", "e4"), ("e9", "e7")], "src string, dst string"
    )
    return triples, same_as


def _near_dup_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    return spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("zeta", "zetaX", 1)),
            (3, base.replace("iota", "iotaY", 1)),
            (4, "unrelated words entirely different from the rest " * 5),
        ],
        "doc_id long, text string",
    )


def _gate_sites(spark):
    """(name, join type the gate hints, zero-arg builder) per site."""
    triples, same_as = _triples_and_same_as(spark)
    docs = _near_dup_docs(spark)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    return [
        ("canonicalize_triples", "LeftOuter", lambda: canonicalize_triples(triples, same_as)),
        ("keep_canonical", "LeftAnti", lambda: keep_canonical(docs, pairs)),
        ("minhash_dedup_pairs", "LeftSemi", lambda: minhash_dedup_pairs(docs, threshold=0.5)),
    ]


def test_gate_sites_broadcast_at_default_cap_and_shuffle_when_off(spark, monkeypatch):
    for name, join_type, build in _gate_sites(spark):
        monkeypatch.delenv("RML_BROADCAST_MAX_ROWS", raising=False)
        on = build()
        on_ops = _join_ops(on, join_type)
        assert on_ops and set(on_ops) == {"BroadcastHashJoin"}, (name, on_ops)
        rows_on = _rows(on)

        monkeypatch.setenv("RML_BROADCAST_MAX_ROWS", "0")
        off = build()
        off_ops = _join_ops(off, join_type)
        assert off_ops and "BroadcastHashJoin" not in off_ops, (name, off_ops)
        assert _rows(off) == rows_on and rows_on, name


def test_gate_malformed_knob_falls_back_to_default(spark, monkeypatch):
    monkeypatch.setenv("RML_BROADCAST_MAX_ROWS", "abc")
    triples, same_as = _triples_and_same_as(spark)
    out = canonicalize_triples(triples, same_as)  # no ValueError
    assert set(_join_ops(out, "LeftOuter")) == {"BroadcastHashJoin"}


def test_broadcast_cap_parse_warns_once_and_uses_default(caplog):
    cc._broadcast_max_rows.cache_clear()
    with caplog.at_level(logging.WARNING, logger=cc.__name__):
        assert cc._broadcast_max_rows("abc") == cc._BROADCAST_MAX_ROWS_DEFAULT
        assert cc._broadcast_max_rows("abc") == cc._BROADCAST_MAX_ROWS_DEFAULT
    assert caplog.text.count("RML_BROADCAST_MAX_ROWS='abc'") == 1
    assert cc._broadcast_max_rows(None) == cc._BROADCAST_MAX_ROWS_DEFAULT
    assert cc._broadcast_max_rows(" 7 ") == 7


def test_materialize_fallback_logs_exception_class(spark, monkeypatch, caplog):
    """A failed localCheckpoint falls back to an RDD round-trip, and says
    so with the exception class, instead of falling back silently."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    real = type(df).localCheckpoint
    calls = []

    def flaky(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("checkpoint normalization crash")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", flaky)
    with caplog.at_level(logging.WARNING, logger=cc.__name__):
        out = cc._materialize(df)
    assert _rows(out) == [(1, "a"), (2, "b")]
    assert len(calls) == 2
    assert "RuntimeError" in caplog.text and "RDD round-trip" in caplog.text
