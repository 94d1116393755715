"""The public API facade — the 9 Thrift methods of the reference service
(``src/main/thrift/Flockdb.thrift:138-167``), re-expressed over DataFrames.

contains / get / get_metadata / contains_metadata / count2 / count /
select2 / select_edges / execute  (count and select are the deprecated pair).
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import threading
import time
import weakref
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


_service_ids = itertools.count()


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` frame: its plan is one
    ``LogicalRDD`` over the persisted RDD, which ``unpersist`` on the frame
    (a CacheManager call) never reaches."""
    checkpointed._jdf.logicalPlan().rdd().unpersist(False)


class _Leases:
    """The store tables service writes made, and the reads in flight on them.

    A read leases the ``(edges, metadata)`` pair it reads for its whole run:
    every service read and write, and a ``select_all`` frame for as long as
    the frame lives.  A write publishes its tables and supersedes the old
    ones; a superseded table that a write made (a local checkpoint) is
    released at once if nothing leases it, else when its last lease ends.
    Leasing and publishing share one lock, so a read never leases a table
    already superseded, and a write's own checkpoints are never released
    before it publishes them.  One registry for the process: services
    sharing a store see each other's reads.

    A collected ``select_all`` frame's lease is queued, not ended, by its
    finalizer (which may run inside any allocation, this class's locked
    code included) and ends at the next lease, end or publish."""

    def __init__(self):
        self._lock = threading.Lock()
        self._made: weakref.WeakValueDictionary = weakref.WeakValueDictionary()
        self._reads: collections.Counter = collections.Counter()  # id(table) -> leases
        self._superseded: set[int] = set()  # made tables superseded while leased
        self._dropped: collections.deque = collections.deque()

    def made(self, tables) -> None:
        with self._lock:
            for df in tables:
                self._made[id(df)] = df

    def lease(self, store: EdgeStore) -> tuple[DataFrame, DataFrame]:
        with self._lock:
            free = self._drain()
            tables = (store.edges, store.metadata)
            self._reads.update(id(df) for df in tables)
        self._free(free)
        return tables

    def end(self, tables) -> None:
        with self._lock:
            free = self._drain() + self._end(tables)
        self._free(free)

    def end_later(self, tables) -> None:
        self._dropped.append(tables)

    def publish(self, store: EdgeStore, edges: DataFrame, metadata: DataFrame) -> None:
        with self._lock:
            free = self._drain()
            old = (store.edges, store.metadata)
            store.edges, store.metadata = edges, metadata
            for df in old:
                if df is edges or df is metadata or self._made.get(id(df)) is not df:
                    continue
                del self._made[id(df)]
                if self._reads[id(df)]:
                    self._superseded.add(id(df))
                else:
                    free.append(df)
        self._free(free)

    def _end(self, tables) -> list[DataFrame]:
        free = []
        for df in tables:
            self._reads[id(df)] -= 1
            if not self._reads[id(df)]:
                del self._reads[id(df)]
                if id(df) in self._superseded:
                    self._superseded.discard(id(df))
                    free.append(df)
        return free

    def _drain(self) -> list[DataFrame]:
        free = []
        while self._dropped:
            free += self._end(self._dropped.popleft())
        return free

    @staticmethod
    def _free(tables) -> None:
        for df in tables:
            _release(df)


_LEASES = _Leases()


def _leaves(nodes):
    """Every leaf (Simple / WhereIn) of a list of query trees."""
    stack = list(nodes)
    while stack:
        node = stack.pop()
        kids = node.children()
        if not kids:
            yield node
        stack.extend(kids)


class FlockService:
    """Stateful facade over an EdgeStore.  Reads are pure; ``execute``
    replaces the store's DataFrames with the merged result (the reference ack's
    writes into a queue and applies them asynchronously, ``doc/blog.md:67-75``;
    batch Spark applies them synchronously per call).

    **The serving view.**  FlockDB's reads are paged lookups over one
    adjacency list, not data-sized jobs (``doc/blog.md:90-93``).  Every read
    the store's layout prunes — ``get``/``contains``, ``get_metadata``,
    ``count2``, and each ``select2`` / ``select_edges[_batch]`` whose leaves
    are all forward terms — runs in a child session of the store's
    (``spark.newSession()``), which inherits every modifiable SQL conf the
    parent has set and differs in one: ``spark.sql.codegen.wholeStage`` is
    off.  It reads the store's tables re-bound into that session through
    one global temp view per table, ``edges`` as ``coalesce(1)``.  Filters
    push through the coalesce, so a lookup still reads one file; the flags
    aggregation, the per-query page window and a cursor page's inner
    ``LIMIT`` then need no exchange, so each read is one Spark job, and no
    per-request whole-stage class is compiled (its inlined id literals
    differ on every call; a forward cursor page compiled 4 classes per call
    on the main session, 1 on the view).

    Reads with a backward leaf keep the main session's plan: the layout does
    not prune on ``destination_id``, so such a read scans the whole graph
    partition, and on the view that data-sized scan would run in one task.
    Measured at sf0.1 (local[4], fresh ids per call, the three routes
    interleaved in one process), forcing backward reads onto the view took
    a backward Start page 176 → 287 ms (a second run: 123 → 204 ms).  Its
    cursor page and union came out 10–20% faster there at sf0.1, but each
    is still a single-task scan of an unpruned partition, whose cost grows
    with the data.  Routed as here, a top-degree forward union went
    333 → 206 ms and a forward cursor page 284 → 215 ms.

    The view is re-bound whenever ``store.edges`` / ``store.metadata``
    change identity (a pure-Python check per read): after ``execute`` and
    ``bulk_load`` and after any direct assignment.  The operators and the
    main session's conf are untouched, and job groups, scheduler pools and
    ``cancelJobGroup`` are SparkContext-wide, so classes and timeouts apply
    to both sessions alike."""

    #: per-class timeout budget in seconds (O5, config/production.scala:26-35
    #: — Select 1s, Execute 1s, SelectCopy 15s, SelectModify 3s...).  Empty
    #: by default: the reference's budgets are per-MySQL-shard numbers; a
    #: deployment sets its own.  Keys are QueryClass values.
    DEFAULT_TIMEOUTS: dict = {}

    def __init__(self, store: EdgeStore, timeouts: dict | None = None):
        self.store = store
        self.timeouts = dict(self.DEFAULT_TIMEOUTS if timeouts is None else timeouts)
        parent = store.spark
        self._session = parent.newSession()
        # a new session starts from the SparkConf: confs the parent set at
        # run time (the loaders' parquet NANOS_CONF among them) are copied
        inherited = self._session.conf.getAll
        for key, value in parent.conf.getAll.items():
            if inherited.get(key) != value and parent.conf.isModifiable(key):
                self._session.conf.set(key, value)
        self._session.conf.set("spark.sql.codegen.wholeStage", "false")
        self._views_db = parent.conf.get("spark.sql.globalTempDatabase")
        self._views = f"flock_serving_{next(_service_ids)}"
        self._bind_lock = threading.Lock()
        self._bind(store.edges, store.metadata)

    def _bind(self, edges: DataFrame, metadata: DataFrame) -> tuple[DataFrame, DataFrame, EdgeStore]:
        """(Re)bind the serving view to ``edges`` and ``metadata``.

        ``_serving`` is ``(edges, metadata, view store)``: the tables bound
        and the store over them, published as one attribute so a reader
        never pairs one table's identity with another table's view.  The
        lock keeps one bind's replace-then-read of the shared view names
        from interleaving with another's."""
        with self._bind_lock:
            views = []
            for df, table in ((edges, "edges"), (metadata, "metadata")):
                view = f"{self._views}_{table}"
                df.createOrReplaceGlobalTempView(view)
                views.append(self._session.table(f"{self._views_db}.{view}"))
            self._serving = (
                edges, metadata, EdgeStore(self._session, views[0].coalesce(1), views[1])
            )
            return self._serving

    def _store_for(self, forward: bool = True, tables=None) -> EdgeStore:
        """The serving view for a pruned read, else the main session's
        store, over ``tables`` (default: the store's current pair)."""
        edges, metadata = tables or (self.store.edges, self.store.metadata)
        if not forward:
            return EdgeStore(self.store.spark, edges, metadata)
        serving = self._serving
        if serving[0] is not edges or serving[1] is not metadata:
            serving = self._bind(edges, metadata)
        return serving[2]

    @contextlib.contextmanager
    def _reading(self, forward: bool = True):
        """``_store_for`` over the store's current tables, leased until the
        block exits: a write that lands meanwhile releases them only then."""
        tables = _LEASES.lease(self.store)
        try:
            yield self._store_for(forward, tables)
        finally:
            _LEASES.end(tables)

    def _checkpoint(self, *frames: DataFrame) -> list[DataFrame]:
        """Eager local checkpoints of ``frames``, all or none: if one fails
        (an O5 timeout cancelling the job group), those already made are
        released before the error propagates."""
        made = []
        try:
            for df in frames:
                made.append(df.localCheckpoint(eager=True))
        except BaseException:
            for df in made:
                _release(df)
            raise
        _LEASES.made(made)
        return made

    def _swap(self, edges: DataFrame, metadata: DataFrame) -> None:
        """Publish a write: new tables, serving view re-bound.  The tables
        it supersedes are released once no read leases them (``_Leases``);
        a table replaced by a direct ``store.edges =`` assignment is not
        (Spark's ContextCleaner drops it after a JVM GC)."""
        _LEASES.publish(self.store, edges, metadata)
        self._bind(edges, metadata)

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
        with self._classed(QueryClass.SELECT_SINGLE), self._reading() as store:
            rows = (
                store.edges.where(
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
        with self._classed(QueryClass.SELECT_METADATA), self._reading() as store:
            rows = (
                store.metadata.where(
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
        runs as ONE SQL statement: one scan, the flags aggregation and the
        per-program page window (``operators/batch.batch_flat_pages``, q23's
        plan shape); anything else — leaf roots, mid-walk cursors, broadcast
        IN-lists — falls back to one :func:`paginate` statement per program.
        A batch whose leaves are all forward terms runs on the serving view,
        where the aggregation and the window need no exchange and each
        statement is one Spark job; a batch with a backward leaf runs on the
        main session (two exchanges, three jobs for the batched statement).
        Pages are in the reference's order, destination id DESC
        (``SqlShard.select``)."""
        if not queries:
            return []
        trees = [compile_select(q.operations) for q in queries]
        forward = all(leaf.term.forward for leaf in _leaves(trees))
        cls = class_for_trees(trees, INLINE_IN_LIST_MAX)
        with self._classed(cls), self._reading(forward) as store:
            batched = None
            if all(q.cursor == CURSOR_START for q in queries):
                batched = batch_flat_pages(
                    store, [(t, q.page_count) for t, q in zip(trees, queries)]
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
                paginate(tree.ids(store), "id", "id", q.page_count, q.cursor)
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
        cls = class_for_trees([node], INLINE_IN_LIST_MAX)
        with self._classed(cls), self._reading(term.forward) as store:
            return paginate(
                node.edges(store),
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
        edge scan and a per-query page window
        (``operators/batch.batch_edge_pages`` — q24's gated plan shape, the
        selectEdges twin of select2's q23 batcher); mid-walk cursors fall back
        to one plan per query.  An all-forward batch runs on the serving view
        as one Spark job with no exchange; a batch with a backward term runs
        on the main session, where the window takes one N·page-sized
        shuffle."""
        if not queries:
            return []
        if not all(q.cursor == CURSOR_START for q in queries):
            return [
                self._term_page(q.term, q.destination_ids, q.count, q.cursor)
                for q in queries
            ]
        by_qix: dict[int, list] = {i: [] for i in range(len(queries))}
        # Classify the whole batch by its heaviest member, exactly as the
        # single-query path does per-tree (the reference classifies every
        # SelectQuery individually, config/production.scala:26-35) — a batch
        # of WhereIn pages must land in the intersection pool, not SELECT.
        nodes = [
            Simple(q.term) if q.destination_ids is None else WhereIn(q.term, q.destination_ids)
            for q in queries
        ]
        with self._reading(all(q.term.forward for q in queries)) as store:
            batched = batch_edge_pages(
                store, [(q.term, q.destination_ids, q.count) for q in queries]
            )
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
        with self._classed(QueryClass.SELECT), self._reading() as store:
            counts = fetch_leaf_counts(store, trees)
            return [size_estimate(store, t, _counts=counts) for t in trees]

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
        ``FlockService.timeouts``).  The frame keeps the tables it reads
        leased while it lives, so a write landing before or during its copy
        job does not release them; a frame derived from it holds no lease,
        so keep this one referenced until the job ends."""

        def read(st: EdgeStore) -> DataFrame:
            df = st.edges if graph_id is None else st.graph(graph_id)
            return df.orderBy("source_id", "destination_id")

        return self._leased_frame(read)

    def select_all_metadata(self, graph_id: int | None = None) -> DataFrame:
        """R16 metadata pass (``SqlShard.scala:151-173``); leased as
        :meth:`select_all`'s frame is."""

        def read(st: EdgeStore) -> DataFrame:
            md = st.metadata
            if graph_id is not None:
                md = md.where(F.col("graph_id") == graph_id)
            return md.orderBy("source_id")

        return self._leased_frame(read)

    def _leased_frame(self, read) -> DataFrame:
        """``read`` over the store's current tables, leased until the frame
        it returns is garbage-collected."""
        tables = _LEASES.lease(self.store)
        df = read(EdgeStore(self.store.spark, *tables))
        weakref.finalize(df, _LEASES.end_later, tables)
        return df

    def bulk_load(self, edges: DataFrame, metadata: DataFrame | None = None) -> None:
        """W8 — ``bulkUnsafeInsertEdges/Metadata`` (``SqlShard.scala:402-430``):
        plain append, bypassing LWW and count maintenance — the copy path's
        fast lane.  Use ``execute``/reconcile for anything user-facing."""
        with self._reading(False) as store:
            if metadata is None:
                [new_edges] = self._checkpoint(store.edges.unionByName(edges))
                new_metadata = store.metadata
            else:
                new_edges, new_metadata = self._checkpoint(
                    store.edges.unionByName(edges), store.metadata.unionByName(metadata)
                )
        self._swap(new_edges, new_metadata)

    # -- writes (EdgesService.scala:121-129) --------------------------------

    def execute(self, operations: list[ExecuteOperation], at: int | None = None) -> None:
        now = at if at is not None else int(time.time())
        ops_df = compile_execute(self.store.spark, operations, now)
        with self._reading(False) as store, self._classed(QueryClass.EXECUTE):
            edges, metadata = apply_oplog(
                store.edges,
                store.metadata,
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
            new_edges, new_metadata = self._checkpoint(edges, metadata)
        self._swap(new_edges, new_metadata)
