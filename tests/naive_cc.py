"""Deliberately naive connected components over Python edge lists.

The INDEPENDENT half of the cc checks (tests/test_cc.py,
tests/test_property.py): a textbook union-find with path halving,
written from the definition of a connected component, not from the
engine's hash-min loop. Output
matches ``operators.cc.connected_components``: every node that appears
in some non-self-loop edge maps to the minimum node id of its
component (plain Python ``<``, so string ids compare lexicographically
just as Spark compares strings). Nodes that only appear in self-loops
are left out, as the engine leaves them out.
"""

from __future__ import annotations


def components(edges) -> dict:
    """[(src, dst), ...] -> {node: min node of its component}."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as root, so a root is its component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}
