"""count2 — closed-form cardinality estimates over a query tree (§3.3).

The estimates ARE the API answer, not just planner input
(``Flockdb.thrift:154-156``):

- Simple leaf  → the vertex's materialized degree count
  (``queries/SimpleQuery.scala:24-27`` → ``SqlShard.scala:175-188``)
- WhereIn leaf → |IN-list| (``WhereInQuery.scala:26``)
- Intersection → min(a, b) * averageIntersectionProportion (default 0.1)
  (``IntersectionQuery.scala:24-28``, ``config/FlockDB.scala:19``)
- Union        → max(a, b)  (``UnionQuery.scala:23``)
- Difference   → a          (``DifferenceQuery.scala:25``)
"""

from __future__ import annotations

from ..graph import EdgeStore
from .algebra import Difference, Intersection, QueryNode, Simple, Union, WhereIn, _bigint

AVERAGE_INTERSECTION_PROPORTION = 0.1  # config/FlockDB.scala:19


def _leaf_terms(node: QueryNode) -> list[Simple]:
    if isinstance(node, Simple):
        return [node]
    out: list[Simple] = []
    for child in node.children():
        out.extend(_leaf_terms(child))
    return out


def fetch_leaf_counts(
    store: EdgeStore, nodes: list[QueryNode]
) -> dict[tuple[int, int], int]:
    """One batched metadata lookup for every Simple leaf across a whole list
    of query trees — count2 over N programs is thereby ONE Spark job, not N
    (the reference does a point read per leaf, ``SqlShard.scala:175-188``;
    batch Spark amortizes them all into a single scalar-sized collect)."""
    wanted = {
        (t.term.graph_id, t.term.source_id) for node in nodes for t in _leaf_terms(node)
    }
    if not wanted:
        return {}
    keys = ", ".join(f"({int(g)}, {_bigint(s)})" for g, s in wanted)
    rows = (
        store.metadata.where(f"(graph_id, source_id) IN ({keys})")
        .selectExpr("graph_id", "source_id", "count")
        .collect()
    )
    return {(r["graph_id"], r["source_id"]): r["count"] for r in rows}


def size_estimate(
    store: EdgeStore,
    node: QueryNode,
    proportion: float = AVERAGE_INTERSECTION_PROPORTION,
    _counts: dict[tuple[int, int], int] | None = None,
) -> int:
    """Estimate |node| without scanning edge data for compound nodes.

    Leaf degree counts come from the maintained metadata table in ONE batched
    lookup for the whole tree (the reference does a point metadata read per
    leaf, ``SqlShard.scala:175-188``).
    """
    if _counts is None:
        _counts = fetch_leaf_counts(store, [node])

    if isinstance(node, Simple):
        return _counts.get((node.term.graph_id, node.term.source_id), 0)
    if isinstance(node, WhereIn):
        return len(node.in_ids)
    left = size_estimate(store, node.left, proportion, _counts)  # type: ignore[attr-defined]
    right = size_estimate(store, node.right, proportion, _counts)  # type: ignore[attr-defined]
    if isinstance(node, Intersection):
        return int(min(left, right) * proportion)
    if isinstance(node, Union):
        return max(left, right)
    if isinstance(node, Difference):
        return left
    raise TypeError(f"unknown node type: {type(node).__name__}")
