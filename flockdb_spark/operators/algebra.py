"""The compound query algebra: wildcard select, where-in, intersection, union,
difference — arbitrary binary trees (``queries/Query.scala:40-72``).

The reference evaluates these PULL-based and paged: internal nodes loop,
fetching pages from the smaller child and probing the larger with
``selectWhereIn`` semi-joins (``queries/IntersectionQuery.scala:23-76``).
Spark-first, every compound read in the engine — one tree's ``ids()``,
select2's N-program batch, the pair-batch operators (``batch.py``) — runs on
ONE evaluator, :func:`flat_flags`: a coarse-filtered edge scan tags each row
with the leaves it satisfies, one hash aggregation builds per-(tree, id)
membership flags, and each tree becomes a boolean over its flags.  The leaf
filter is written once, :meth:`Term.predicate`.

Trees with a broadcast-sized IN-list leaf keep the join composition in
``Intersection/Union/Difference.ids``: each node a DataFrame semi/anti join
or union, Catalyst picking hash joins and broadcasting small sides.  That
composition is also the reference the property tests hold the evaluator to.

Canonical result of any node: a one-column DataFrame ``id`` — the neighbor ids
from the term's point of view, the same id-set the reference's set ops return.
``Simple`` nodes additionally expose the full edge rows.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import EdgeStore
from ..schema import local_df

#: IN-lists up to this size stay inline literals (the reference routes ≤50-id
#: lists to its low-latency query class, ``shards/SqlShard.scala:36-45,323-329``);
#: bigger lists become a broadcast semi-join.
INLINE_IN_LIST_MAX = 64


@dataclass(frozen=True)
class Term:
    """A leaf lookup: vertex + graph + direction + state filter.

    ``forward=False`` is the reference's negated-graph backward table
    (``ForwardingManager.scala:35-37``) — here just a filter on the other key.
    """

    graph_id: int
    source_id: int
    forward: bool = True
    states: tuple[int, ...] = (0,)

    @property
    def id_col(self) -> str:
        return "destination_id" if self.forward else "source_id"

    @property
    def vertex_col(self) -> str:
        return "source_id" if self.forward else "destination_id"

    def predicate(self) -> Column:
        """The leaf filter over the edge table — every leaf scan uses it."""
        return (
            (F.col("graph_id") == self.graph_id)
            & (F.col(self.vertex_col) == self.source_id)
            & F.col("state").isin(list(self.states))
        )

    def edges(self, store: EdgeStore) -> DataFrame:
        return store.edges.where(self.predicate())


class QueryNode:
    """Base: compiles to a DataFrame of ids."""

    def ids(self, store: EdgeStore) -> DataFrame:
        raise NotImplementedError

    def children(self) -> tuple["QueryNode", ...]:
        return ()

    def depth(self) -> int:
        kids = self.children()
        return 1 + max((k.depth() for k in kids), default=0)


@dataclass(frozen=True)
class Simple(QueryNode):
    """Wildcard adjacency scan (R5, ``queries/SimpleQuery.scala:23-47``)."""

    term: Term

    def ids(self, store: EdgeStore) -> DataFrame:
        return self.term.edges(store).select(F.col(self.term.id_col).alias("id"))

    def edges(self, store: EdgeStore) -> DataFrame:
        return self.term.edges(store)


@dataclass(frozen=True)
class WhereIn(QueryNode):
    """IN-list semi-join (R9, ``queries/WhereInQuery.scala:24-47``)."""

    term: Term
    in_ids: tuple[int, ...]

    def ids(self, store: EdgeStore) -> DataFrame:
        if len(self.in_ids) <= INLINE_IN_LIST_MAX:
            # small list: stays a pushed-down IN filter at the scan
            out = self.edges(store)
        else:
            # large list: broadcast semi-join (SqlShard's >50-id class)
            ids_df = local_df(
                store.spark, [(int(i),) for i in self.in_ids], f"{self.term.id_col} long"
            )
            out = self.term.edges(store).join(
                F.broadcast(ids_df), on=self.term.id_col, how="left_semi"
            )
        return out.select(F.col(self.term.id_col).alias("id"))

    def edges(self, store: EdgeStore) -> DataFrame:
        """intersectEdges (R10, ``shards/SqlShard.scala:337-349``)."""
        return store.edges.where(_leaf_predicate(self.term, self.in_ids))


@dataclass(frozen=True)
class Intersection(QueryNode):
    """R11 — the reference pages the smaller side and semi-joins the larger
    (``IntersectionQuery.scala:42-54``); Catalyst's hash semi-join + AQE does
    the side selection and short-circuits empty relations."""

    left: QueryNode
    right: QueryNode

    def children(self) -> tuple[QueryNode, ...]:
        return (self.left, self.right)

    def ids(self, store: EdgeStore) -> DataFrame:
        flat = flat_ids(self, store)
        if flat is not None:
            return flat
        # children are id-sets ((src,dst) unique per graph), so the semi-join
        # output is already distinct — no extra shuffle needed
        return self.left.ids(store).join(self.right.ids(store), on="id", how="left_semi")


@dataclass(frozen=True)
class Union(QueryNode):
    """R12 (``queries/UnionQuery.scala:22-49``) — SQL UNION (dedup)."""

    left: QueryNode
    right: QueryNode

    def children(self) -> tuple[QueryNode, ...]:
        return (self.left, self.right)

    def ids(self, store: EdgeStore) -> DataFrame:
        flat = flat_ids(self, store)
        if flat is not None:
            return flat
        return self.left.ids(store).unionByName(self.right.ids(store)).distinct()


@dataclass(frozen=True)
class Difference(QueryNode):
    """R13 (``queries/DifferenceQuery.scala``) — anti-join A − B."""

    left: QueryNode
    right: QueryNode

    def children(self) -> tuple[QueryNode, ...]:
        return (self.left, self.right)

    def ids(self, store: EdgeStore) -> DataFrame:
        flat = flat_ids(self, store)
        if flat is not None:
            return flat
        return self.left.ids(store).join(self.right.ids(store), on="id", how="left_anti")


# ---------------------------------------------------------------------------
# The one evaluator — N set-op trees as ONE tagged scan + ONE shuffle
# ---------------------------------------------------------------------------

def _flat_leaves(node: QueryNode) -> list | None:
    """Leaves of a flattenable subtree in leftmost-depth-first order, or None.

    Flattenable: every leaf is Simple or an inline-sized WhereIn (a broadcast
    IN-list would bloat the tagging expression — those trees keep the join
    composition)."""
    if isinstance(node, Simple):
        return [node]
    if isinstance(node, WhereIn):
        return [node] if len(node.in_ids) <= INLINE_IN_LIST_MAX else None
    if isinstance(node, (Intersection, Union, Difference)):
        left = _flat_leaves(node.left)
        right = _flat_leaves(node.right)
        return None if left is None or right is None else left + right
    return None


def _leaf_predicate(term: Term, in_ids: tuple[int, ...] | None) -> Column:
    """A Simple (``in_ids=None``) or WhereIn leaf as one row filter."""
    p = term.predicate()
    return p if in_ids is None else p & F.col(term.id_col).isin([int(i) for i in in_ids])


def _tagged_scan(store: EdgeStore, tags: list[tuple[Column, Column]], *cols) -> DataFrame:
    """ONE coarse-filtered edge scan (the OR of every predicate) that emits
    each row once per ``(predicate, tag)`` it satisfies — a row can serve
    several leaves or queries.  Output: ``cols`` plus the tag as ``_tag``."""
    coarse = functools.reduce(operator.or_, (p for p, _ in tags))
    return (
        store.edges.where(coarse)
        .select(*cols, F.explode(F.array(*[F.when(p, t) for p, t in tags])).alias("_tag"))
        .where(F.col("_tag").isNotNull())
    )


def _flag_expr(node: QueryNode, flags) -> Column:
    """The tree as a boolean over its leaves' flag columns, consuming flag
    indexes in the same leftmost-first order as :func:`_flat_leaves`."""
    if isinstance(node, (Simple, WhereIn)):
        return F.col(f"f{next(flags)}") == 1
    left, right = _flag_expr(node.left, flags), _flag_expr(node.right, flags)
    if isinstance(node, Intersection):
        return left & right
    if isinstance(node, Union):
        return left | right
    return left & ~right


def flat_flags(store: EdgeStore, trees: list[QueryNode]) -> DataFrame | None:
    """(qix, id): the ids each ``trees[qix]`` selects, for N compound trees
    in ONE pass — or None if any tree is not flattenable (a leaf root, or a
    broadcast-sized IN-list leaf).

    The reference evaluates compound trees by recursive paged set-ops — N
    leaves mean N index lookups and up to N-1 merge loops
    (``queries/IntersectionQuery.scala:23-76``).  The join composition in
    ``Intersection/Union/Difference.ids`` mirrors that shape (one scan branch
    + one shuffle per node); this evaluator instead tags each edge row with
    every leaf of every tree it satisfies (an explode over per-leaf
    ``(qix, leaf, id)`` structs — pure map side), aggregates per-(qix, id)
    membership FLAGS in one shuffle, and applies each tree as a boolean over
    its own flags:

        A ∩ B → fA & fB      A ∪ B → fA | fB      A − B → fA & ~fB

    One table scan, one broadcast-free shuffle, any number of trees, any
    depth, any mix of directions/graphs/state filters.  q13's two 3-leaf
    trees drop from 19 exchanges to 2; a select2 batch of N programs is one
    scan instead of N.
    """
    flat = [_flat_leaves(t) for t in trees]
    if any(
        leaves is None or isinstance(tree, (Simple, WhereIn))
        for tree, leaves in zip(trees, flat)
    ):
        return None
    if not trees:
        return local_df(store.spark, [], "qix int, id long")
    tags, keep, base = [], F.lit(False), 0
    for qix, (tree, leaves) in enumerate(zip(trees, flat)):
        for j, leaf in enumerate(leaves):
            t = leaf.term
            tag = F.struct(
                F.lit(qix).alias("qix"), F.lit(base + j).alias("leaf"), F.col(t.id_col).alias("id")
            )
            in_ids = leaf.in_ids if isinstance(leaf, WhereIn) else None
            tags.append((_leaf_predicate(t, in_ids), tag))
        flags = iter(range(base, base + len(leaves)))
        keep = keep | ((F.col("qix") == qix) & _flag_expr(tree, flags))
        base += len(leaves)
    return (
        _tagged_scan(store, tags)
        .select("_tag.qix", "_tag.leaf", "_tag.id")
        .groupBy("qix", "id")
        .agg(
            *[
                F.max(F.when(F.col("leaf") == i, 1).otherwise(0)).alias(f"f{i}")
                for i in range(base)
            ]
        )
        .where(keep)
        .select("qix", "id")
    )


def flat_ids(node: QueryNode, store: EdgeStore) -> DataFrame | None:
    """One tree's ids through :func:`flat_flags`, or None if not flattenable."""
    flags = flat_flags(store, [node])
    return None if flags is None else flags.select("id")
