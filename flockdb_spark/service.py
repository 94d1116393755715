"""The public API facade — the 9 Thrift methods of the reference service
(``src/main/thrift/Flockdb.thrift:138-167``), re-expressed over DataFrames.

contains / get / get_metadata / contains_metadata / count2 / count /
select2 / select_edges / execute  (count and select are the deprecated pair).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import EdgeStore
from .operators.algebra import INLINE_IN_LIST_MAX, QueryNode, Simple, Term, WhereIn, _bigint
from .operators.batch import batch_edge_pages, batch_flat_pages
from .operators.classes import (
    FlockTimeoutException,  # noqa: F401 — public surface (O5 timeout twin)
    QueryClass,
    class_for_trees,
    query_class,
)
from .operators.counts import fetch_leaf_counts, size_estimate
from .operators.merge import apply_oplog
from .operators.paging import CURSOR_END, CURSOR_START, Cursor, Page, paginate
from .plans.compiler import (
    ExecuteOperation,
    SelectOperation,
    compile_execute,
    compile_select,
)
from .schema import State


class FlockException(Exception):
    """Parity twin of the reference's ``FlockException``
    (``Flockdb.thrift:128-131``): raised by ``get``/``get_metadata`` when
    ``strict=True`` and the edge/row is absent.  The default (non-strict)
    Pythonic contract returns ``None`` instead — a deliberate divergence
    from the reference, which always throws (``Flockdb.thrift:141-149``)."""


@dataclass
class SelectQuery:
    """One select2 request: an RPN program + a page spec (Flockdb.thrift:85-88)."""

    operations: list[SelectOperation]
    page_count: int = 20
    cursor: Cursor | str = CURSOR_START


@dataclass
class EdgeQuery:
    """One selectEdges request: a single term + page spec
    (``Flockdb.thrift:90-93`` — ``QueryTerm term; Page page``)."""

    term: Term
    destination_ids: tuple[int, ...] | None = None
    count: int = 20
    cursor: Cursor | str = CURSOR_START


class FlockService:
    """Stateful facade over an EdgeStore.  Reads are pure; ``execute``
    replaces the store's DataFrames with the merged result (the reference ack's
    writes into a queue and applies them asynchronously, ``doc/blog.md:67-75``;
    batch Spark applies them synchronously per call)."""

    #: per-class timeout budget in seconds (O5, config/production.scala:26-35
    #: — Select 1s, Execute 1s, SelectCopy 15s, SelectModify 3s...).  Empty
    #: by default: the reference's budgets are per-MySQL-shard numbers; a
    #: deployment sets its own.  Keys are QueryClass values.
    DEFAULT_TIMEOUTS: dict = {}

    def __init__(self, store: EdgeStore, timeouts: dict | None = None):
        self.store = store
        self.timeouts = dict(self.DEFAULT_TIMEOUTS if timeouts is None else timeouts)

    def _classed(self, cls: str):
        """Scheduler-pool + job-group + timeout scope for one service action
        (O5 — operators/classes.py; the reference's per-class evaluator)."""
        return query_class(self.store.spark, cls, self.timeouts.get(cls))

    # -- point reads (EdgesService.scala:42-84) -----------------------------

    def get(self, source_id: int, graph_id: int, destination_id: int, strict: bool = False):
        """R1 (``EdgesService.scala:62-72``).

        Divergence from the reference (documented, COVERAGE.md §2.a): the
        Thrift ``get`` THROWS ``FlockException`` on absence
        (``Flockdb.thrift:141-144``); the Pythonic default here returns
        ``None``.  Pass ``strict=True`` for reference-exact raising."""
        with self._classed(QueryClass.SELECT_SINGLE):
            rows = (
                self.store.edges.where(
                    f"graph_id = {int(graph_id)} AND source_id = {_bigint(source_id)} "
                    f"AND destination_id = {_bigint(destination_id)}"
                )
                .limit(1)
                .collect()
            )
        if not rows:
            if strict:
                raise FlockException(
                    f"no edge ({source_id} -[{graph_id}]-> {destination_id})"
                )
            return None
        return rows[0]

    def contains(self, source_id: int, graph_id: int, destination_id: int) -> bool:
        """R2 — exists in state Normal or Negative (``EdgesService.scala:51-60``)."""
        row = self.get(source_id, graph_id, destination_id)
        return row is not None and row["state"] in (int(State.NORMAL), int(State.NEGATIVE))

    def get_metadata(self, source_id: int, graph_id: int, strict: bool = False):
        """R3 (``EdgesService.scala:74-84``).

        Same documented divergence as :meth:`get`: the reference throws on
        absence (``Flockdb.thrift:146-149``); default here is ``None``,
        ``strict=True`` raises ``FlockException``."""
        with self._classed(QueryClass.SELECT_METADATA):
            rows = (
                self.store.metadata.where(
                    f"graph_id = {int(graph_id)} AND source_id = {_bigint(source_id)}"
                )
                .limit(1)
                .collect()
            )
        if not rows:
            if strict:
                raise FlockException(f"no metadata ({source_id}, graph {graph_id})")
            return None
        return rows[0]

    def contains_metadata(self, source_id: int, graph_id: int) -> bool:
        return self.get_metadata(source_id, graph_id) is not None

    # -- compound reads (EdgesService.scala:86-119) -------------------------

    def select2(self, queries: list[SelectQuery]) -> list[Page]:
        """R14/R18 — N independent compound paged queries
        (``EdgesService.scala:86-100``).  The whole batch of Start-cursor
        flattenable programs (any set-op tree over Simple / inline-IN leaves)
        runs as ONE SQL statement: one scan and two exchanges, the flags
        aggregation and the per-program page window
        (``operators/batch.batch_flat_pages``, q23's plan shape); anything
        else — leaf roots, mid-walk cursors, broadcast IN-lists — falls back
        to one :func:`paginate` statement per program.  Pages are in the
        reference's order, destination id DESC (``SqlShard.select``)."""
        if not queries:
            return []
        trees = [compile_select(q.operations) for q in queries]
        cls = class_for_trees(trees, INLINE_IN_LIST_MAX)
        with self._classed(cls):
            batched = None
            if all(q.cursor == CURSOR_START for q in queries):
                batched = batch_flat_pages(
                    self.store, [(t, q.page_count) for t, q in zip(trees, queries)]
                )
            if batched is not None:
                by_qix: dict[int, list[int]] = {i: [] for i in range(len(queries))}
                for r in batched.collect():
                    by_qix[r["qix"]].append(r["id"])
                out = []
                for i, q in enumerate(queries):
                    ids = sorted(by_qix[i], reverse=True)
                    has_more = len(ids) > q.page_count
                    ids = ids[: q.page_count]
                    next_cursor: Cursor | str = (
                        Cursor(ids[-1], ids[-1]) if ids and has_more else CURSOR_END
                    )
                    out.append(Page([(v, v) for v in ids], next_cursor, CURSOR_START))
                return out
            # set-op results are id-ordered; the id is its own sort key
            return [
                paginate(tree.ids(self.store), "id", "id", q.page_count, q.cursor)
                for q, tree in zip(queries, trees)
            ]

    def select_edges(
        self,
        source_id: int,
        graph_id: int,
        states: tuple[int, ...] = (0,),
        destination_ids: tuple[int, ...] | None = None,
        count: int = 20,
        cursor: Cursor | str = CURSOR_START,
    ) -> Page:
        """R8/R10 — single-term full-edge page (``EdgesService.scala:102-119``).
        Convenience form of :meth:`select_edges_batch` for one forward term."""
        term = Term(graph_id, source_id, True, states)
        return self._term_page(term, destination_ids, count, cursor)

    def _term_page(
        self,
        term: Term,
        destination_ids: tuple[int, ...] | None,
        count: int,
        cursor: Cursor | str,
    ) -> Page:
        node = Simple(term) if destination_ids is None else WhereIn(term, destination_ids)
        with self._classed(class_for_trees([node], INLINE_IN_LIST_MAX)):
            return paginate(
                node.edges(self.store),
                "position",
                term.id_col,
                count,
                cursor,
                include_rows=True,
            )

    def select_edges_batch(self, queries: list[EdgeQuery]) -> list[Page]:
        """The reference's REAL selectEdges signature — ``list<EdgeQuery>`` in
        one call (``Flockdb.thrift:158-160``; ``EdgesService.scala:102-119``
        loops the list).  The whole batch of Start-cursor queries runs as ONE
        edge scan + one N·page-sized shuffle
        (``operators/batch.batch_edge_pages`` — q24's gated plan shape, the
        selectEdges twin of select2's q23 batcher); mid-walk cursors fall back
        to one plan per query."""
        if not queries:
            return []
        if not all(q.cursor == CURSOR_START for q in queries):
            return [
                self._term_page(q.term, q.destination_ids, q.count, q.cursor)
                for q in queries
            ]
        batched = batch_edge_pages(
            self.store, [(q.term, q.destination_ids, q.count) for q in queries]
        )
        by_qix: dict[int, list] = {i: [] for i in range(len(queries))}
        # Classify the whole batch by its heaviest member, exactly as the
        # single-query path does per-tree (the reference classifies every
        # SelectQuery individually, config/production.scala:26-35) — a batch
        # of WhereIn pages must land in the intersection pool, not SELECT.
        nodes = [
            Simple(q.term) if q.destination_ids is None else WhereIn(q.term, q.destination_ids)
            for q in queries
        ]
        with self._classed(class_for_trees(nodes, INLINE_IN_LIST_MAX)):
            rows_all = batched.collect()
        for r in rows_all:
            by_qix[r["qix"]].append(r)
        out = []
        for i, q in enumerate(queries):
            rows = sorted(by_qix[i], key=lambda r: r["rn"])
            has_more = len(rows) > q.count
            rows = rows[: q.count]
            id_col = q.term.id_col
            next_cursor: Cursor | str = (
                Cursor(rows[-1]["position"], rows[-1][id_col])
                if rows and has_more
                else CURSOR_END
            )
            out.append(
                Page(
                    [(r["position"], r[id_col]) for r in rows],
                    next_cursor,
                    CURSOR_START,
                    full_rows=rows,
                )
            )
        return out

    # -- estimates (EdgesService.scala:131-140) -----------------------------

    def count2(self, programs: list[list[SelectOperation]]) -> list[int]:
        """R-count2 — N cardinality estimates in ONE Spark job: leaf degree
        lookups for all programs are batched into a single metadata collect
        (``Flockdb.thrift:154-156`` takes the whole program list at once)."""
        trees = [compile_select(p) for p in programs]
        with self._classed(QueryClass.SELECT):
            counts = fetch_leaf_counts(self.store, trees)
            return [size_estimate(self.store, t, _counts=counts) for t in trees]

    count = count2  # deprecated alias (Flockdb.thrift:165)

    def select(
        self,
        operations: list[SelectOperation],
        page_count: int = 20,
        cursor: Cursor | str = CURSOR_START,
    ) -> Page:
        """Deprecated single-program select (``Flockdb.thrift:166-167``) —
        exactly one select2 query, kept for surface parity."""
        return self.select2([SelectQuery(operations, page_count, cursor)])[0]

    # -- copy-path reads/writes (shards/SqlShard.scala:216-238,402-430) -----

    def select_all(self, graph_id: int | None = None) -> DataFrame:
        """R16 — full-table ordered scan, the copy/repair source
        (``SqlShard.scala:216-238``).  The reference chunks this with a
        compound (source, destination) cursor; Spark's native batch scan
        replaces the chunking, the order is the same.

        Lazy (returns the DataFrame): the copy job runs at the CALLER's
        action, so class it there —
        ``with query_class(spark, QueryClass.SELECT_COPY): df.write...``
        (O5; the reference's 15 s SelectCopy budget lives in
        ``FlockService.timeouts``)."""
        df = self.store.edges if graph_id is None else self.store.graph(graph_id)
        return df.orderBy("source_id", "destination_id")

    def select_all_metadata(self, graph_id: int | None = None) -> DataFrame:
        """R16 metadata pass (``SqlShard.scala:151-173``)."""
        md = self.store.metadata
        if graph_id is not None:
            md = md.where(F.col("graph_id") == graph_id)
        return md.orderBy("source_id")

    def bulk_load(self, edges: DataFrame, metadata: DataFrame | None = None) -> None:
        """W8 — ``bulkUnsafeInsertEdges/Metadata`` (``SqlShard.scala:402-430``):
        plain append, bypassing LWW and count maintenance — the copy path's
        fast lane.  Use ``execute``/reconcile for anything user-facing."""
        self.store.edges = self.store.edges.unionByName(edges).localCheckpoint(eager=True)
        if metadata is not None:
            self.store.metadata = self.store.metadata.unionByName(metadata).localCheckpoint(
                eager=True
            )

    # -- writes (EdgesService.scala:121-129) --------------------------------

    def execute(self, operations: list[ExecuteOperation], at: int | None = None) -> None:
        now = at if at is not None else int(time.time())
        ops_df = compile_execute(self.store.spark, operations, now)
        with self._classed(QueryClass.EXECUTE):
            edges, metadata = apply_oplog(
                self.store.edges,
                self.store.metadata,
                ops_df,
                resolve_with_metadata=True,
                # the compiled program's shape is known here — prune dead branches
                has_single=any(op.term.destination_ids is not None for op in operations),
                has_mass=any(op.term.destination_ids is None for op in operations),
            )
            # Materialize the merged batch and truncate lineage — the batch
            # equivalent of the reference committing each write to storage.  In a
            # cluster deployment this is a write to the edge table (Delta/parquet);
            # locally a checkpoint keeps repeated executes from stacking plans.
            # Both checkpoints land in LOCALS first so an O5 timeout cancelling
            # the job group mid-write can never tear the store (edges updated,
            # metadata stale); the store is swapped only after both succeed.
            new_edges = edges.localCheckpoint(eager=True)
            new_metadata = metadata.localCheckpoint(eager=True)
        self.store.edges = new_edges
        self.store.metadata = new_metadata
