"""Batched reads — the Spark-first shape of the reference's multi-query
calls: ``select2`` (R18, ``EdgesService.scala:86-100``) and ``selectEdges``
(``Flockdb.thrift:158-160``), which the reference answers by running N
independent paged evaluations.

Every compound batch here is :func:`algebra.flat_flags` — ONE tagged edge
scan + ONE flags aggregation for all N set-op trees — plus a thin shell:

- :func:`batch_flat_pages` pages each tree with a per-``qix`` window;
- the pair family (``batch_intersection`` / ``batch_union`` /
  ``batch_difference`` / ``batch_select2``) turns each ``(op, a, b)``
  program into a two-leaf tree and labels the output from a broadcast
  ``(qix, op, a, b)`` table.

:func:`batch_edge_pages` is the full-edge-row twin: the same tagged scan,
tagged by query index instead of leaf, paged per query.  At 100 TB this is
the difference between 2N scans (reference) and 1.

The two paged batches are each ONE SQL statement over the edge table
(``spark.sql(text, edges=...)``), stacked on the evaluator's text
(``algebra._flags_sql`` / ``algebra._tagged_scan``).  Per-query values — the
``page_count + 1`` limit, the backward/forward tiebreak column — are inline
``CASE qix WHEN …`` expressions, not a joined parameter table: the driver
hands the JVM one string per batch whatever its size, and the plan has no
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import EdgeStore
from ..schema import local_df
from .algebra import (
    Difference,
    Intersection,
    QueryNode,
    Simple,
    Term,
    Union,
    _flags_sql,
    _leaf_predicate,
    _tagged_scan,
    flat_flags,
)

_SET_OPS = {"intersection": Intersection, "union": Union, "difference": Difference}


def _by_qix(values: list[str]) -> str:
    """``CASE qix WHEN 0 THEN values[0] …`` — a per-query value, inline."""
    arms = " ".join(f"WHEN {qix} THEN {v}" for qix, v in enumerate(values))
    return f"CASE qix {arms} END" if arms else "NULL"


def _pair_programs(
    store: EdgeStore,
    graph_id: int,
    programs: list[tuple[str, int, int]],
    states: tuple[int, ...],
) -> tuple[list[QueryNode], DataFrame]:
    """Each ``(op, a, b)`` program as the two-leaf tree ``op(a, b)`` over
    forward terms, plus the ``(qix, op, a, b)`` table that labels its rows."""
    trees = [
        _SET_OPS[op](
            Simple(Term(graph_id, a, True, states)), Simple(Term(graph_id, b, True, states))
        )
        for op, a, b in programs
    ]
    labels = local_df(
        store.spark,
        [(i, op, int(a), int(b)) for i, (op, a, b) in enumerate(programs)],
        "qix int, op string, a long, b long",
    )
    return trees, labels


def _pair_batch(
    store: EdgeStore, graph_id: int, op: str, pairs: list[tuple[int, int]], states: tuple[int, ...]
) -> DataFrame:
    """(a, b, id) for ``op`` over every distinct pair — one scan + one shuffle."""
    programs = [(op, a, b) for a, b in dict.fromkeys((a, b) for a, b in pairs)]
    trees, labels = _pair_programs(store, graph_id, programs, states)
    return flat_flags(store, trees).join(F.broadcast(labels), "qix").select("a", "b", "id")


def batch_intersection(
    store: EdgeStore, graph_id: int, pairs: list[tuple[int, int]], states: tuple[int, ...] = (0,)
) -> DataFrame:
    """(a, b, id) for every pair's A ∩ B — one scan + one shuffle for all pairs."""
    return _pair_batch(store, graph_id, "intersection", pairs, states)


def batch_union(
    store: EdgeStore, graph_id: int, pairs: list[tuple[int, int]], states: tuple[int, ...] = (0,)
) -> DataFrame:
    """(a, b, id) for every pair's A ∪ B."""
    return _pair_batch(store, graph_id, "union", pairs, states)


def batch_difference(
    store: EdgeStore, graph_id: int, pairs: list[tuple[int, int]], states: tuple[int, ...] = (0,)
) -> DataFrame:
    """(a, b, id) for every pair's A − B."""
    return _pair_batch(store, graph_id, "difference", pairs, states)


def batch_select2(
    store: EdgeStore,
    graph_id: int,
    programs: list[tuple[str, int, int]],
    page_count: int = 20,
    states: tuple[int, ...] = (0,),
) -> DataFrame:
    """The full select2 batch (R18, ``EdgesService.scala:86-100``): N compound
    paged queries — here ``programs`` of mixed op kinds over (a, b) pairs —
    answered in ONE pass through :func:`batch_flat_pages`.

    Returns (qix, op, a, b, id): each program's Cursor.Start page — the
    first ``page_count`` ids in the reference's page order, descending
    destination id (``SqlShard.select`` orders DESC unless the cursor walks
    backward, Cursor.Start = -1; ``queries/WhereInQuery.scala`` likewise
    ORDER BY destination_id DESC).
    """
    bad = [p for p in programs if p[0] not in _SET_OPS]
    if bad:
        raise ValueError(f"unknown select2 ops: {bad}; expected one of {sorted(_SET_OPS)}")
    trees, labels = _pair_programs(store, graph_id, programs, states)
    return (
        batch_flat_pages(store, [(t, page_count) for t in trees])
        .where(f"rn <= {int(page_count)}")
        .join(F.broadcast(labels), "qix")
        .select("qix", "op", "a", "b", "id")
    )


def batch_edge_pages(
    store: EdgeStore,
    queries: list[tuple["Term", tuple[int, ...] | None, int]],
) -> DataFrame:
    """N single-term FULL-EDGE Start pages from ONE edge scan — the batch
    ``selectEdges`` (``Flockdb.thrift:158-160`` takes ``list<EdgeQuery>``;
    ``EdgesService.scala:102-119`` answers them per-query; here the whole
    batch is one job).

    Each query is ``(term, destination_ids | None, page_count)`` — a Simple
    or intersectEdges (R10) leaf.  One coarse-filtered scan tags each edge
    row with every query index it satisfies (a row CAN serve two queries);
    pages are per-query windows in the reference's Start-page order —
    position DESC with the page's id column (destination for forward terms,
    source for backward) as tiebreak (``SqlShard.select``'s default
    direction).

    Returns (qix, <edge cols>, rn) with ``rn`` ≤ page_count+1 — the +1 row
    is the caller's has-more probe (``SqlShard.scala:263-278``'s same-round-
    trip trick).  At 100 TB this is one pruned scan + one N·page-sized
    shuffle for any number of queries, vs N scans in the reference."""
    tags = [
        (_leaf_predicate(term, dest_ids), str(i))
        for i, (term, dest_ids, _count) in enumerate(queries)
    ]
    pid = _by_qix([term.id_col for term, _dest, _count in queries])
    limit = _by_qix([str(int(count) + 1) for _term, _dest, count in queries])
    window = f"PARTITION BY qix ORDER BY position DESC, {pid} DESC"
    return store.spark.sql(
        f"SELECT * FROM (SELECT *, row_number() OVER ({window}) AS rn "
        f"FROM ({_tagged_scan(tags, 'qix', ', *')})) WHERE rn <= {limit}",
        edges=store.edges,
    )


def batch_flat_pages(
    store: EdgeStore, programs: list[tuple[QueryNode, int]]
) -> DataFrame | None:
    """N compound queries' Cursor.Start pages from ONE edge scan.

    Each program is ``(tree, page_count)`` with any flattenable set-op tree
    (Simple / inline WhereIn leaves, any mix of graphs, directions, state
    filters, any depth).  :func:`algebra.flat_flags` selects every tree's ids
    in one scan + one shuffle (the flags aggregation); pages are per-program
    windows in the reference's Start-page order (destination id DESC,
    ``SqlShard.select``'s default direction), which take a second shuffle
    (hash on ``qix``).  Each program's ``page_count + 1`` limit is an inline
    ``CASE qix`` — the plan is one scan and two exchanges, no broadcast.

    Returns (qix, id, rn) with ``rn`` ≤ page_count+1 — the +1 row is the
    caller's has-more probe (same trick as ``SqlShard.scala:263-278``), or
    ``None`` if any program is not flattenable (caller falls back to
    per-program evaluation).

    This is the reference's real N-query batch shape
    (``Flockdb.thrift:151-152`` takes the whole query list): N compound
    queries are one scan + two exchanges instead of N× each.
    """
    flags = _flags_sql([tree for tree, _ in programs])
    if flags is None:
        return None
    limit = _by_qix([str(int(count) + 1) for _, count in programs])
    return store.spark.sql(
        "SELECT qix, id, rn FROM (SELECT qix, id, "
        f"row_number() OVER (PARTITION BY qix ORDER BY id DESC) AS rn FROM ({flags})) "
        f"WHERE rn <= {limit}",
        edges=store.edges,
    )
