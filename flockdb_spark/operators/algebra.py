"""The compound query algebra: wildcard select, where-in, intersection, union,
difference — arbitrary binary trees (``queries/Query.scala:40-72``).

The reference evaluates these PULL-based and paged: internal nodes loop,
fetching pages from the smaller child and probing the larger with
``selectWhereIn`` semi-joins (``queries/IntersectionQuery.scala:23-76``).
Spark-first, every compound read in the engine — one tree's ``ids()``,
select2's N-program batch, the pair-batch operators (``batch.py``) — runs on
ONE evaluator, :func:`flat_flags`: a coarse-filtered edge scan tags each row
with the leaves it satisfies, one hash aggregation builds per-(tree, id)
membership flags, and each tree becomes a boolean over its flags.

Every serving-path plan here is rendered as SQL TEXT, not built from Column
objects: each Column node (``F.col``/``F.lit``/``&``/``isin``/``F.struct``/
``F.when``) costs about three py4j round trips, so Column-built plans cost
hundreds of driver↔JVM trips per call, growing with the batch.  As text, a
leaf filter is one ``where(str)`` and the whole evaluator is one
``spark.sql(text, edges=...)`` — a fixed handful of trips for any tree or
batch.  The leaf filter is written once, :meth:`Term.predicate`; literals
are rendered only from ``int()``, 64-bit ids as BIGINT literals (``5L``, so
``-2**63`` parses and comparisons stay long-vs-long and pushable), and an
empty IN-list as ``FALSE`` (``IN ()`` does not parse).

Trees with a broadcast-sized IN-list leaf keep the join composition in
``Intersection/Union/Difference.ids``: each node a DataFrame semi/anti join
or union, Catalyst picking hash joins and broadcasting small sides.  That
composition is also the reference the property tests hold the evaluator to.

Canonical result of any node: a one-column DataFrame ``id`` — the neighbor ids
from the term's point of view, the same id-set the reference's set ops return.
``Simple`` nodes additionally expose the full edge rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import EdgeStore
from ..schema import local_df

#: IN-lists up to this size stay inline literals (the reference routes ≤50-id
#: lists to its low-latency query class, ``shards/SqlShard.scala:36-45,323-329``);
#: bigger lists become a broadcast semi-join.
INLINE_IN_LIST_MAX = 64


def _bigint(v: int) -> str:
    """A 64-bit id as a BIGINT SQL literal (``-2**63`` included)."""
    return f"{int(v)}L"


def _sql_in(col: str, values: Iterable[int], render: Callable[[int], str] = _bigint) -> str:
    """``col IN (…)`` as SQL text; an empty list is ``FALSE``."""
    items = ", ".join(render(v) for v in values)
    return f"{col} IN ({items})" if items else "FALSE"


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

    def predicate(self) -> str:
        """The leaf filter over the edge table, as SQL text — every leaf
        scan uses it."""
        states = _sql_in("state", self.states, lambda st: str(int(st)))
        return (
            f"(graph_id = {int(self.graph_id)} AND "
            f"{self.vertex_col} = {_bigint(self.source_id)} AND {states})"
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
        return self.term.edges(store).selectExpr(f"{self.term.id_col} AS id")

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
        return out.selectExpr(f"{self.term.id_col} AS id")

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


def _leaf_predicate(term: Term, in_ids: tuple[int, ...] | None) -> str:
    """A Simple (``in_ids=None``) or WhereIn leaf as one SQL row filter."""
    p = term.predicate()
    return p if in_ids is None else f"({p} AND {_sql_in(term.id_col, in_ids)})"


def _tagged_scan(tags: list[tuple[str, str]], tag: str, cols: str = "") -> str:
    """SQL text of ONE coarse-filtered scan of ``{edges}`` (the OR of every
    predicate) that emits each row once per ``(predicate, tag)`` it
    satisfies — a row can serve several leaves or queries.  Output: the tag
    as column ``tag``, then ``cols`` (``", *"`` for the whole edge row)."""
    coarse = " OR ".join(p for p, _ in tags)
    arms = ", ".join(f"CASE WHEN {p} THEN {t} END" for p, t in tags)
    return (
        f"SELECT * FROM (SELECT explode(array({arms})) AS {tag}{cols} "
        f"FROM {{edges}} WHERE {coarse}) WHERE {tag} IS NOT NULL"
    )


def _flag_expr(node: QueryNode, flags) -> str:
    """The tree as a SQL boolean over its leaves' flag columns, consuming
    flag indexes in the same leftmost-first order as :func:`_flat_leaves`."""
    if isinstance(node, (Simple, WhereIn)):
        return f"f{next(flags)} = 1"
    left, right = _flag_expr(node.left, flags), _flag_expr(node.right, flags)
    if isinstance(node, Intersection):
        return f"({left} AND {right})"
    if isinstance(node, Union):
        return f"({left} OR {right})"
    return f"({left} AND NOT {right})"


def _flags_sql(trees: list[QueryNode]) -> str | None:
    """:func:`flat_flags` as SQL text over ``{edges}`` (output ``qix, id``),
    for callers that stack more stages onto the same statement — or None if
    any tree is not flattenable."""
    flat = [_flat_leaves(t) for t in trees]
    if any(
        leaves is None or isinstance(tree, (Simple, WhereIn))
        for tree, leaves in zip(trees, flat)
    ):
        return None
    if not trees:
        return "SELECT CAST(NULL AS INT) AS qix, CAST(NULL AS BIGINT) AS id WHERE FALSE"
    tags, keep, base = [], [], 0
    for qix, (tree, leaves) in enumerate(zip(trees, flat)):
        for j, leaf in enumerate(leaves):
            t = leaf.term
            tag = f"named_struct('qix', {qix}, 'leaf', {base + j}, 'id', {t.id_col})"
            in_ids = leaf.in_ids if isinstance(leaf, WhereIn) else None
            tags.append((_leaf_predicate(t, in_ids), tag))
        flags = iter(range(base, base + len(leaves)))
        keep.append(f"(qix = {qix} AND {_flag_expr(tree, flags)})")
        base += len(leaves)
    maxes = ", ".join(
        f"max(CASE WHEN leaf = {i} THEN 1 ELSE 0 END) AS f{i}" for i in range(base)
    )
    leaf_rows = (
        "SELECT _tag.qix AS qix, _tag.leaf AS leaf, _tag.id AS id "
        f"FROM ({_tagged_scan(tags, '_tag')})"
    )
    return (
        f"SELECT qix, id FROM (SELECT qix, id, {maxes} FROM ({leaf_rows}) GROUP BY qix, id) "
        f"WHERE {' OR '.join(keep)}"
    )


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
    depth, any mix of directions/graphs/state filters — and one SQL
    statement, so the driver's py4j cost does not grow with the batch.
    q13's two 3-leaf trees drop from 19 exchanges to 2; a select2 batch of
    N programs is one scan instead of N.
    """
    sql = _flags_sql(trees)
    return None if sql is None else store.spark.sql(sql, edges=store.edges)


def flat_ids(node: QueryNode, store: EdgeStore) -> DataFrame | None:
    """One tree's ids through :func:`flat_flags`, or None if not flattenable."""
    sql = _flags_sql([node])
    return None if sql is None else store.spark.sql(f"SELECT id FROM ({sql})", edges=store.edges)
