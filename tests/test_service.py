"""End-to-end service flows — the analog of ``integration/EdgesSpec.scala``:
add/remove/archive/negate through execute(), reads through the 9-method API,
mass actions, effective-state coupling.
"""

import pytest

from conftest import edge_rows_df
from flockdb_spark.graph import EdgeStore
from flockdb_spark.operators.paging import Cursor
from flockdb_spark.plans.compiler import (
    ExecuteOperation,
    ExecuteOperationType,
    QueryTerm,
    SelectOperation,
    SelectOperationType,
)
from flockdb_spark.service import FlockService, SelectQuery


@pytest.fixture()
def svc(spark):
    rows = [(1, 1, d, d * 10, 100, 0) for d in (10, 11, 12)]
    rows += [(1, 2, d, d * 10, 100, 0) for d in (11, 12, 13)]
    return FlockService(EdgeStore.from_edges(spark, edge_rows_df(spark, rows)))


def op(kind, src, dests=None, graph=1, fwd=True):
    return ExecuteOperation(kind, QueryTerm(src, graph, fwd, dests))


def test_point_reads(svc):
    assert svc.contains(1, 1, 10)
    assert not svc.contains(1, 1, 99)
    assert svc.get(1, 1, 10)["position"] == 100
    assert svc.get_metadata(1, 1)["count"] == 3
    assert svc.contains_metadata(2, 1) and not svc.contains_metadata(9, 1)


def test_add_remove_lifecycle(svc):
    svc.execute([op(ExecuteOperationType.ADD, 1, (99,))], at=2000)
    assert svc.contains(1, 1, 99)
    svc.execute([op(ExecuteOperationType.REMOVE, 1, (99,))], at=3000)
    assert not svc.contains(1, 1, 99)
    # negate: still "contains" (state Negative counts, EdgesService.scala:51-60)
    svc.execute([op(ExecuteOperationType.NEGATE, 1, (10,))], at=3000)
    assert svc.contains(1, 1, 10)
    assert svc.get(1, 1, 10)["state"] == 3


def test_select2_compound_and_paging(svc):
    prog = [
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1)),
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(2, 1)),
        SelectOperation(SelectOperationType.INTERSECTION),
    ]
    [page] = svc.select2([SelectQuery(prog, page_count=1)])
    assert [r[1] for r in page.rows] == [12]
    assert isinstance(page.next_cursor, Cursor)
    [page2] = svc.select2([SelectQuery(prog, page_count=1, cursor=page.next_cursor)])
    assert [r[1] for r in page2.rows] == [11]


def test_select_edges_full_rows(svc):
    page = svc.select_edges(1, 1, count=2)
    # position DESC: dests 12, 11 first; full edge rows carried (R8)
    assert [r["destination_id"] for r in page.full_rows] == [12, 11]
    assert page.full_rows[0]["state"] == 0 and page.full_rows[0]["position"] == 120
    page2 = svc.select_edges(1, 1, count=2, cursor=page.next_cursor)
    assert [r["destination_id"] for r in page2.full_rows] == [10]
    # intersectEdges (R10): id-list restricted
    page3 = svc.select_edges(1, 1, destination_ids=(10, 12, 77), count=5)
    assert [r["destination_id"] for r in page3.full_rows] == [12, 10]


def test_select_edges_batch_one_scan(svc):
    """Batch selectEdges (Flockdb.thrift:158-160 takes list<EdgeQuery>):
    the whole Start-cursor batch answers in one scan and each page matches
    the single-query path exactly — rows, order, and has-more cursor."""
    from flockdb_spark.operators.algebra import Term
    from flockdb_spark.operators.paging import CURSOR_END
    from flockdb_spark.service import EdgeQuery

    pages = svc.select_edges_batch(
        [
            EdgeQuery(Term(1, 1), count=2),
            EdgeQuery(Term(1, 2), count=5),
            EdgeQuery(Term(1, 1), destination_ids=(10, 12, 77), count=5),
            EdgeQuery(Term(1, 12, forward=False), count=5),  # backward term
        ]
    )
    assert [r["destination_id"] for r in pages[0].full_rows] == [12, 11]
    assert isinstance(pages[0].next_cursor, Cursor)  # has-more probe fired
    assert [r["destination_id"] for r in pages[1].full_rows] == [13, 12, 11]
    assert pages[1].next_cursor == CURSOR_END
    assert [r["destination_id"] for r in pages[2].full_rows] == [12, 10]
    # backward: who points at 12 — page id column is source_id
    assert [r["source_id"] for r in pages[3].full_rows] == [2, 1]
    # a mid-walk cursor falls back to per-query paging, same result as single
    follow = svc.select_edges_batch(
        [EdgeQuery(Term(1, 1), count=2, cursor=pages[0].next_cursor)]
    )
    assert [r["destination_id"] for r in follow[0].full_rows] == [10]


def test_deprecated_select_wrapper(svc):
    """select(program, page) (Flockdb.thrift:166-167) == one select2 query."""
    prog = [
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1)),
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(2, 1)),
        SelectOperation(SelectOperationType.INTERSECTION),
    ]
    page = svc.select(prog, page_count=5)
    [page2] = svc.select2([SelectQuery(prog, page_count=5)])
    assert page.rows == page2.rows and page.next_cursor == page2.next_cursor


def test_strict_get_raises_flock_exception(svc):
    """Reference parity: Thrift get/get_metadata THROW on absence
    (Flockdb.thrift:141-149); strict=True reproduces that."""
    from flockdb_spark.service import FlockException

    assert svc.get(1, 1, 99) is None
    with pytest.raises(FlockException):
        svc.get(1, 1, 99, strict=True)
    assert svc.get_metadata(99, 1) is None
    with pytest.raises(FlockException):
        svc.get_metadata(99, 1, strict=True)
    # present rows behave identically in both modes
    assert svc.get(1, 1, 10, strict=True)["position"] == 100


def test_mass_archive_then_readd(svc):
    svc.execute([op(ExecuteOperationType.ARCHIVE, 1)], at=5000)
    assert not svc.contains(1, 1, 10)
    md = svc.get_metadata(1, 1)
    assert md["state"] == 2 and md["count"] == 3  # 3 edges at the vertex state
    # single add to archived vertex is forced to Archived (Single.scala:106)
    svc.execute([op(ExecuteOperationType.ADD, 1, (55,))], at=6000)
    assert svc.get(1, 1, 55)["state"] == 2
    # wildcard add restores everything
    svc.execute([op(ExecuteOperationType.ADD, 1)], at=7000)
    assert svc.contains(1, 1, 10) and svc.contains(1, 1, 55)
    assert svc.get_metadata(1, 1)["count"] == 4


def test_count2(svc):
    prog = [
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1)),
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(2, 1)),
        SelectOperation(SelectOperationType.INTERSECTION),
    ]
    [est] = svc.count2([prog])
    assert est == 0  # int(min(3,3) * 0.1)


def test_select_all_and_bulk_load(svc, spark):
    """R16 copy-source scan + W8 unsafe bulk append (SqlShard.scala:216-238,402-430)."""
    allrows = svc.select_all(1).collect()
    assert [(r["source_id"], r["destination_id"]) for r in allrows] == sorted(
        (r["source_id"], r["destination_id"]) for r in allrows
    )
    md = svc.select_all_metadata(1).collect()
    assert [r["source_id"] for r in md] == [1, 2]

    n0 = svc.store.edges.count()
    svc.bulk_load(edge_rows_df(spark, [(1, 3, 30, 300, 100, 0)]))
    assert svc.store.edges.count() == n0 + 1
    # bulk load bypasses LWW: a stale duplicate row lands as-is (copy path),
    # and reconcile/merge is the documented way to repair afterwards
    svc.bulk_load(edge_rows_df(spark, [(1, 3, 30, 300, 50, 2)]))
    assert svc.store.edges.where("source_id = 3").count() == 2


def test_select2_batch_one_scan(svc):
    """R18 — an N-program Start-cursor batch runs as ONE edge-table scan
    (batch_flat_pages), and the facade's pages match per-program evaluation."""
    from flockdb_spark.operators.batch import batch_flat_pages
    from flockdb_spark.plans.compiler import compile_select

    S, I, U, D = (
        SelectOperationType.SIMPLE_QUERY,
        SelectOperationType.INTERSECTION,
        SelectOperationType.UNION,
        SelectOperationType.DIFFERENCE,
    )

    p_int = [SelectOperation(S, QueryTerm(1, 1)), SelectOperation(S, QueryTerm(2, 1)), SelectOperation(I)]
    p_uni = [SelectOperation(S, QueryTerm(1, 1)), SelectOperation(S, QueryTerm(2, 1)), SelectOperation(U)]
    p_dif = [SelectOperation(S, QueryTerm(2, 1)), SelectOperation(S, QueryTerm(1, 1)), SelectOperation(D)]
    # nested: (1 ∪ 2) − (1 ∩ 2) — 4 leaves, depth 3
    p_nested = [
        SelectOperation(S, QueryTerm(1, 1)),
        SelectOperation(S, QueryTerm(2, 1)),
        SelectOperation(U),
        SelectOperation(S, QueryTerm(1, 1)),
        SelectOperation(S, QueryTerm(2, 1)),
        SelectOperation(I),
        SelectOperation(D),
    ]
    queries = [SelectQuery(p, page_count=2) for p in (p_int, p_uni, p_dif, p_nested)]

    # the batched plan scans the edge table exactly once
    trees = [compile_select(q.operations) for q in queries]
    df = batch_flat_pages(svc.store, [(t, q.page_count) for t, q in zip(trees, queries)])
    assert df is not None
    jvm = df.sparkSession._jvm
    simple = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert simple.count("Scan ExistingRDD") == 1, simple

    # s1={10,11,12}, s2={11,12,13}; pages are id DESC (SqlShard.select default)
    pages = svc.select2(queries)
    assert [r[1] for r in pages[0].rows] == [12, 11]  # 1∩2
    assert pages[0].next_cursor == "end"
    assert [r[1] for r in pages[1].rows] == [13, 12]  # 1∪2, more behind
    assert isinstance(pages[1].next_cursor, Cursor)
    assert [r[1] for r in pages[2].rows] == [13]  # 2−1
    assert [r[1] for r in pages[3].rows] == [13, 10]  # (1∪2)−(1∩2)

    # cursor continuation falls back to the per-program path, page-coherently
    [page2] = svc.select2([SelectQuery(p_uni, page_count=2, cursor=pages[1].next_cursor)])
    assert [r[1] for r in page2.rows] == [11, 10]


def test_query_classes_tag_scheduler_pools(svc, spark):
    """O5 (config/production.scala:26-35): every service action runs under
    its class's FAIR scheduler pool and restores the caller's properties."""
    from flockdb_spark.operators.classes import POOLS, QueryClass, query_class

    sc = spark.sparkContext
    seen = {}
    orig = query_class

    # observe the pool while an action runs by sampling the local property
    # inside the context manager
    import flockdb_spark.service as svcmod

    class Probe:
        def __init__(self, inner):
            self.inner = inner

        def __enter__(self):
            out = self.inner.__enter__()
            # the property is LIVE inside the action scope
            seen[self.cls] = sc.getLocalProperty("spark.scheduler.pool")
            return out

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    def probing(spark_, cls, timeout=None):
        p = Probe(orig(spark_, cls, timeout))
        p.cls = cls
        return p

    svcmod.query_class, svcmod_orig = probing, svcmod.query_class
    try:
        svc.get(1, 1, 10)
        svc.get_metadata(1, 1)
        svc.count2([[SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1, True))]])
        svc.select_edges(1, 1)
        svc.select_edges(1, 1, destination_ids=(10, 11))
    finally:
        svcmod.query_class = svcmod_orig
    assert seen[QueryClass.SELECT_SINGLE] == "flock_select_single"
    assert seen[QueryClass.SELECT_METADATA] == "flock_select_metadata"
    assert seen[QueryClass.SELECT] == "flock_select"
    # the small IN-list page routes to the SMALL intersection class
    assert seen[QueryClass.SELECT_INTERSECTION_SMALL] == "flock_select_intersection_small"
    # caller's property restored after every action
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")


def test_query_class_classification_and_timeout(svc, spark):
    """class_for_trees mirrors the reference's intersection split; the
    watchdog cancels a over-budget action with FlockTimeoutException."""
    import time as _t

    from pyspark.sql import functions as F

    from flockdb_spark.operators.algebra import INLINE_IN_LIST_MAX
    from flockdb_spark.operators.classes import (
        FlockTimeoutException,
        QueryClass,
        class_for_trees,
        query_class,
    )
    from flockdb_spark.plans.compiler import compile_select

    def prog(*ops):
        return compile_select(list(ops))

    simple = prog(SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1, True)))
    small_in = prog(
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1, True, (10, 11)))
    )
    big_in = prog(
        SelectOperation(
            SelectOperationType.SIMPLE_QUERY,
            QueryTerm(1, 1, True, tuple(range(INLINE_IN_LIST_MAX + 1))),
        )
    )
    inter = prog(
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(1, 1, True)),
        SelectOperation(SelectOperationType.SIMPLE_QUERY, QueryTerm(2, 1, True)),
        SelectOperation(SelectOperationType.INTERSECTION),
    )
    M = INLINE_IN_LIST_MAX
    assert class_for_trees([simple], M) == QueryClass.SELECT
    assert class_for_trees([small_in], M) == QueryClass.SELECT_INTERSECTION_SMALL
    assert class_for_trees([big_in], M) == QueryClass.SELECT_INTERSECTION
    assert class_for_trees([inter], M) == QueryClass.SELECT_INTERSECTION_SMALL
    assert class_for_trees([simple, big_in], M) == QueryClass.SELECT_INTERSECTION

    # watchdog: a deliberately slow job under a 0.4s budget is cancelled and
    # surfaces the timeout twin (SqlQueryTimeoutException parity)
    slow = (
        spark.range(0, 200)
        .select(F.col("id"))
        .mapInPandas(
            lambda it: (_t.sleep(0.15) or pdf for pdf in it),  # ~sleep per batch
            "id long",
        )
    )
    t0 = _t.monotonic()
    with pytest.raises(FlockTimeoutException):
        with query_class(spark, QueryClass.SELECT, timeout=0.4):
            slow.crossJoin(slow.withColumnRenamed("id", "id2")).count()
    assert _t.monotonic() - t0 < 30  # cancelled, not run to completion


def test_execute_timeout_never_tears_the_store(svc):
    """ADVICE r7 (medium): an O5 timeout cancelling execute() mid-write must
    leave the store EXACTLY as it was — never edges updated with metadata
    stale.  The fix materializes both checkpoints into locals inside the
    timeout scope and swaps the store only after both succeed."""
    from flockdb_spark.operators.classes import FlockTimeoutException, QueryClass

    before_edges = svc.store.edges
    before_meta = svc.store.metadata
    before_rows = sorted(tuple(r) for r in before_edges.collect())
    before_meta_rows = sorted(tuple(r) for r in before_meta.collect())

    svc.timeouts[QueryClass.EXECUTE] = 0.001  # fires long before the merge jobs end
    try:
        with pytest.raises(FlockTimeoutException):
            svc.execute([op(ExecuteOperationType.ADD, 1, (99,))], at=5000)
    finally:
        svc.timeouts.pop(QueryClass.EXECUTE, None)

    # both halves are the PRE-WRITE frames — object identity, not just value
    assert svc.store.edges is before_edges
    assert svc.store.metadata is before_meta
    assert sorted(tuple(r) for r in svc.store.edges.collect()) == before_rows
    assert sorted(tuple(r) for r in svc.store.metadata.collect()) == before_meta_rows
    # and the service still works: a clean retry applies normally
    svc.execute([op(ExecuteOperationType.ADD, 1, (99,))], at=5000)
    assert svc.contains(1, 1, 99)


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_rdd(df):
    return df._jdf.logicalPlan().rdd().id()


def test_writes_release_the_checkpoints_they_supersede(svc, spark):
    """Each write swaps in fresh edge and metadata checkpoints and releases
    the ones it replaced: over three single-edge executes the RDDs the
    service pins stay exactly the two its store serves."""
    before = _persistent_rdds(spark)
    for i, dest in enumerate((90, 91, 92)):
        svc.execute([op(ExecuteOperationType.ADD, 1, (dest,))], at=6000 + i)
        live = {_checkpoint_rdd(svc.store.edges), _checkpoint_rdd(svc.store.metadata)}
        assert _persistent_rdds(spark) - before == live
    assert all(svc.contains(1, 1, d) for d in (90, 91, 92))
    svc.bulk_load(edge_rows_df(spark, [(1, 3, 30, 300, 100, 0)]))
    live = {_checkpoint_rdd(svc.store.edges), _checkpoint_rdd(svc.store.metadata)}
    assert _persistent_rdds(spark) - before == live
    assert svc.contains(3, 1, 30)


def test_a_failed_write_releases_the_checkpoints_it_made(svc, spark, monkeypatch):
    """When the second checkpoint of a write fails (as under an O5 timeout),
    the first, already made, is released and the store is untouched."""
    edges = svc.store.edges
    made = []
    real = type(edges).localCheckpoint

    def recording(self, *args, **kwargs):
        made.append(real(self, *args, **kwargs))
        return made[-1]

    monkeypatch.setattr(type(edges), "localCheckpoint", recording)
    bad = spark.range(1).selectExpr("raise_error('cancelled') AS id")
    with pytest.raises(Exception, match="cancelled"):
        svc._checkpoint(spark.range(3), bad)
    assert len(made) == 1
    assert _checkpoint_rdd(made[0]) not in _persistent_rdds(spark)
    assert svc.store.edges is edges


def test_a_read_keeps_its_tables_across_a_write(svc, spark):
    """A read leases the tables it reads: a write landing mid-read, from
    this service or another over the same store, releases them only when
    the read ends, on the serving view and on the main session alike."""
    other = FlockService(svc.store)
    for i, (reader, forward) in enumerate(((svc, True), (other, True), (svc, False))):
        svc.execute([op(ExecuteOperationType.ADD, 1, (90 + i,))], at=6000 + 2 * i)
        old = _checkpoint_rdd(svc.store.edges)
        with reader._reading(forward) as store:
            svc.execute([op(ExecuteOperationType.ADD, 1, (95 + i,))], at=6001 + 2 * i)
            assert old in _persistent_rdds(spark)
            dests = {r["destination_id"] for r in store.edges.where("source_id = 1").collect()}
        assert 90 + i in dests and 95 + i not in dests
        assert old not in _persistent_rdds(spark)


def test_a_read_in_flight_on_another_thread_survives_a_write(svc, spark, monkeypatch):
    """A select2 already holding the store's tables when an execute lands
    on another thread still runs to completion and returns the rows it
    started on; the superseded tables go when it ends."""
    import threading

    import flockdb_spark.service as svcmod

    svc.execute([op(ExecuteOperationType.ADD, 1, (90,))], at=6000)
    old = _checkpoint_rdd(svc.store.edges)
    reading, written = threading.Event(), threading.Event()
    real = svcmod.batch_flat_pages

    def held(store, programs):
        reading.set()
        assert written.wait(timeout=60)
        return real(store, programs)

    monkeypatch.setattr(svcmod, "batch_flat_pages", held)
    S = SelectOperationType.SIMPLE_QUERY
    prog = [SelectOperation(S, QueryTerm(1, 1)), SelectOperation(S, QueryTerm(2, 1)),
            SelectOperation(SelectOperationType.UNION)]
    got = {}
    reader = threading.Thread(target=lambda: got.update(page=svc.select2([SelectQuery(prog)])[0]))
    reader.start()
    assert reading.wait(timeout=60)
    svc.execute([op(ExecuteOperationType.ADD, 1, (95,))], at=6001)
    assert old in _persistent_rdds(spark)
    written.set()
    reader.join(timeout=120)
    assert sorted(v for v, _ in got["page"].rows) == [10, 11, 12, 13, 90]
    assert old not in _persistent_rdds(spark)
    assert svc.contains(1, 1, 95)


def test_a_select_all_frame_keeps_its_tables_while_it_lives(svc, spark):
    """A copy job's frame from ``select_all`` leases the tables it reads:
    it still runs after a write, and the superseded tables go once it is
    collected (at the next service call)."""
    import gc

    svc.execute([op(ExecuteOperationType.ADD, 1, (90,))], at=6000)
    old = _checkpoint_rdd(svc.store.edges)
    frame, metadata = svc.select_all(1), svc.select_all_metadata(1)
    svc.execute([op(ExecuteOperationType.ADD, 1, (95,))], at=6001)
    rows = frame.collect()
    assert [r["destination_id"] for r in rows if r["source_id"] == 1] == [10, 11, 12, 90]
    assert [r["count"] for r in metadata.where("source_id = 1").collect()] == [4]
    del frame, metadata
    gc.collect()
    assert svc.contains(1, 1, 95)
    assert old not in _persistent_rdds(spark)


def test_overlapping_writes_leave_a_readable_store(svc, spark, monkeypatch):
    """Two executes on two threads, both past reading the store before
    either publishes: neither releases a table the other still reads or
    has made but not yet published, so the store stays readable and holds
    exactly its two live checkpoints."""
    import threading

    import flockdb_spark.service as svcmod

    svc.execute([op(ExecuteOperationType.ADD, 1, (90,))], at=6000)
    before = _persistent_rdds(spark) - {
        _checkpoint_rdd(svc.store.edges), _checkpoint_rdd(svc.store.metadata)
    }
    both_read = threading.Barrier(2, timeout=60)
    real = svcmod.apply_oplog

    def apply_together(*args, **kwargs):
        both_read.wait()
        return real(*args, **kwargs)

    monkeypatch.setattr(svcmod, "apply_oplog", apply_together)
    errors = []

    def write(dest, at):
        try:
            svc.execute([op(ExecuteOperationType.ADD, 1, (dest,))], at=at)
        except Exception as e:  # surfaced below
            errors.append(e)

    writers = [threading.Thread(target=write, args=(d, 6001 + i)) for i, d in enumerate((95, 96))]
    for t in writers:
        t.start()
    for t in writers:
        t.join(timeout=120)
    assert not errors
    assert svc.contains(1, 1, 90) and svc.get_metadata(1, 1) is not None
    dests = {r["destination_id"] for r in svc.select_all(1).collect() if r["source_id"] == 1}
    # both writes read the same base and overlapping writes are not merged:
    # the store is the one published last, the other's edge is lost
    assert dests in ({10, 11, 12, 90, 95}, {10, 11, 12, 90, 96})
    live = {_checkpoint_rdd(svc.store.edges), _checkpoint_rdd(svc.store.metadata)}
    assert _persistent_rdds(spark) - before == live


def test_select_edges_batch_classified_like_single(svc, spark):
    """ADVICE r7: a batch of WhereIn pages must land in the intersection
    pool (class_for_trees), not unconditionally in SELECT — parity with the
    single-query path and the reference's per-query classification."""
    import flockdb_spark.service as svcmod
    from flockdb_spark.service import CURSOR_START, EdgeQuery
    from flockdb_spark.operators.algebra import Term

    sc = spark.sparkContext
    seen = []
    orig = svcmod.query_class

    class Probe:
        def __init__(self, inner, cls):
            self.inner, self.cls = inner, cls

        def __enter__(self):
            out = self.inner.__enter__()
            seen.append((self.cls, sc.getLocalProperty("spark.scheduler.pool")))
            return out

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    svcmod.query_class = lambda s, cls, timeout=None: Probe(orig(s, cls, timeout), cls)
    try:
        pages = svc.select_edges_batch(
            [
                EdgeQuery(Term(1, 1, True)),
                EdgeQuery(Term(1, 2, True), destination_ids=(11, 12)),
            ]
        )
    finally:
        svcmod.query_class = orig
    assert len(pages) == 2 and pages[0].rows and pages[1].rows
    # the WhereIn member drags the whole batch into the SMALL intersection class
    assert seen == [("select_intersection_small", "flock_select_intersection_small")]

    seen.clear()
    svcmod.query_class = lambda s, cls, timeout=None: Probe(orig(s, cls, timeout), cls)
    try:
        svc.select_edges_batch([EdgeQuery(Term(1, 1, True))])
    finally:
        svcmod.query_class = orig
    assert seen == [("select", "flock_select")]


def test_pool_isolation_under_concurrency(svc, spark):
    """VERDICT r7 item 6: with FAIR scheduling + per-class pools, a slow
    copy-class action on one thread does NOT head-of-line-block a
    select-class action on another — the per-class evaluator isolation the
    reference's production config guarantees (config/production.scala:26-35).

    The copy job runs many waves of short tasks (256 partitions × ~80 ms on
    32 cores ≈ 8 waves); under FIFO the select would queue behind ALL
    pending copy tasks, under FAIR it gets slots at the next wave."""
    import threading
    import time as _t

    from pyspark.sql import functions as F

    from flockdb_spark.operators.classes import QueryClass, query_class

    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"

    slow_done = {}
    # thread A: a copy-class scan occupying every core for several waves
    def copy_job():
        slow = spark.range(0, 256, 1, 256).mapInPandas(
            lambda it: (_t.sleep(0.08) or pdf for pdf in it), "id long"
        )
        t0 = _t.monotonic()
        with query_class(spark, QueryClass.SELECT_COPY):
            n = slow.count()
        slow_done["wall"] = _t.monotonic() - t0
        slow_done["n"] = n

    a = threading.Thread(target=copy_job)
    a.start()
    _t.sleep(0.15)  # let the copy job saturate the cores first

    # thread B (this thread): a select-class point read while A is running
    t0 = _t.monotonic()
    row = svc.get(1, 1, 10)
    select_wall = _t.monotonic() - t0
    assert row is not None and a.is_alive(), "copy job must still be running"
    a.join()
    assert slow_done["n"] == 256
    # the select must NOT have waited for the copy job's full runtime —
    # generous bound: under FIFO it lands ~= slow wall, under FAIR far below
    assert select_wall < slow_done["wall"] * 0.7, (select_wall, slow_done)


def test_empty_batches_return_empty_without_a_job(svc, spark):
    """select2([]) / select_edges_batch([]) answer [] like count2([]) —
    no IndexError from an empty predicate list, and no Spark job."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "empty-batch-probe")
    try:
        assert svc.select2([]) == []
        assert svc.select_edges_batch([]) == []
        assert svc.count2([]) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert list(sc.statusTracker().getJobIdsForGroup("empty-batch-probe")) == []


def test_empty_destination_ids_is_an_empty_in_list(svc):
    """destination_ids=() is an EMPTY id-list (the reference's intersectEdges
    over an empty list), never "no filter" — on every path: select_edges,
    the batch at Start and at a mid-walk cursor, and a select2 leaf."""
    from flockdb_spark.operators.algebra import Term
    from flockdb_spark.operators.paging import CURSOR_END
    from flockdb_spark.service import EdgeQuery

    page = svc.select_edges(1, 1, destination_ids=())
    assert page.rows == [] and page.next_cursor == CURSOR_END

    cursor = svc.select_edges(1, 1, count=1).next_cursor
    assert isinstance(cursor, Cursor)
    for c in ("start", cursor):
        kw = {} if c == "start" else {"cursor": c}
        [got] = svc.select_edges_batch([EdgeQuery(Term(1, 1), destination_ids=(), count=1, **kw)])
        assert got.rows == [] and got.next_cursor == CURSOR_END, c

    S, U = SelectOperationType.SIMPLE_QUERY, SelectOperationType.UNION
    empty_leaf = [SelectOperation(S, QueryTerm(1, 1, destination_ids=()))]
    [alone] = svc.select2([SelectQuery(empty_leaf)])
    assert alone.rows == []
    # s2 ∪ ∅ == s2 = {11,12,13}: batched Start page, then the per-program
    # fallback at a mid-walk cursor
    prog = [SelectOperation(S, QueryTerm(2, 1)), *empty_leaf, SelectOperation(U)]
    [first] = svc.select2([SelectQuery(prog, page_count=2)])
    assert [r[1] for r in first.rows] == [13, 12]
    [rest] = svc.select2([SelectQuery(prog, page_count=2, cursor=first.next_cursor)])
    assert [r[1] for r in rest.rows] == [11]


def test_reads_cost_a_fixed_number_of_py4j_round_trips(svc, monkeypatch):
    """Every read's plan is handed to the JVM as SQL text, so a call costs a
    fixed handful of py4j round trips: a select2 batch of 8 compound programs
    costs about what one program does, and a point read, a Start page and a
    cursor page each stay under a small fixed budget (Column-built plans
    cost ~3 round trips per expression node: hundreds per call, thousands
    per batch).  py4j's deferred releases of garbage-collected proxies
    (memory commands) are not counted: they flush whenever Python's GC
    runs, on behalf of earlier work."""
    import py4j.clientserver
    import py4j.java_gateway
    import py4j.protocol

    sent = [0]
    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        def counting(self, command, _send=cls.send_command):
            sent[0] += not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME)
            return _send(self, command)

        monkeypatch.setattr(cls, "send_command", counting)

    def trips(call):
        sent[0] = 0
        call()
        return sent[0]

    S = SelectOperationType.SIMPLE_QUERY
    ops = (
        SelectOperationType.INTERSECTION,
        SelectOperationType.UNION,
        SelectOperationType.DIFFERENCE,
    )

    def program(kind, a, b):
        return [
            SelectOperation(S, QueryTerm(a, 1)),
            SelectOperation(S, QueryTerm(b, 1)),
            SelectOperation(kind),
        ]

    one = trips(lambda: svc.select2([SelectQuery(program(ops[0], 1, 2), page_count=2)]))
    batch = [SelectQuery(program(ops[k % 3], 1 + k % 2, 2 - k % 2), page_count=2) for k in range(8)]
    eight = trips(lambda: svc.select2(batch))
    assert eight <= one + 10, (one, eight)

    cursor = svc.select_edges(1, 1, count=1).next_cursor
    assert isinstance(cursor, Cursor)
    budget = {
        "get": trips(lambda: svc.get(1, 1, 10)),
        "select_edges": trips(lambda: svc.select_edges(1, 1, count=1)),
        "cursor page": trips(lambda: svc.select_edges(1, 1, count=1, cursor=cursor)),
    }
    assert all(n <= 60 for n in budget.values()), budget


def test_extreme_and_negative_ids_render_as_exact_literals(spark):
    """64-bit extremes and negative ids reach every read path as exact BIGINT
    literals (``-2**63`` included): point reads, metadata, count2, full-edge
    pages at Start and across cursors in both directions, the batch, and
    select2 batched and at a cursor all match a plain Python filter over the
    same rows (and compound ids match the join composition).  An empty
    states tuple or destination-id list is an empty result, not a parse
    error."""
    import unittest.mock as mock

    import flockdb_spark.operators.algebra as A
    from flockdb_spark.operators.algebra import Simple, Term
    from flockdb_spark.operators.paging import CURSOR_END
    from flockdb_spark.plans.compiler import compile_select
    from flockdb_spark.service import EdgeQuery

    MAX, MIN, NEG = 2**63 - 1, -(2**63), -5
    rows = [  # (graph, source, destination, position, updated_at, state)
        (1, MAX, MIN, 50, 100, 0), (1, MAX, NEG, 40, 100, 0), (1, MAX, 7, 30, 100, 0),
        (1, MAX, 8, 20, 100, 2), (1, NEG, MAX, 50, 100, 0), (1, NEG, MIN, 45, 100, 0),
        (1, NEG, 7, 10, 100, 0), (1, MIN, MAX, 60, 100, 0), (1, MIN, NEG, 60, 100, 0),
        (2, MAX, MIN, 10, 100, 0),
    ]
    svc = FlockService(EdgeStore.from_edges(spark, edge_rows_df(spark, rows)))

    def py_edges(vertex, forward=True, states=(0,), ids=None, graph=1):
        """(position, id) of a term's edges in Start-page order."""
        out = [
            (p, d if forward else s)
            for g, s, d, p, _, st in rows
            if g == graph and (s if forward else d) == vertex and st in states
        ]
        return sorted((r for r in out if ids is None or r[1] in ids), reverse=True)

    def py_ids(vertex, **kw):
        return {i for _, i in py_edges(vertex, **kw)}

    # point reads and metadata
    assert svc.get(MAX, 1, MIN)["position"] == 50
    assert svc.get(MIN, 1, MAX)["position"] == 60
    assert svc.get(MAX, 2, MIN)["position"] == 10
    assert svc.get(MIN, 2, MAX) is None
    assert svc.get(MAX, 1, 8)["state"] == 2 and not svc.contains(MAX, 1, 8)
    assert svc.contains(NEG, 1, MIN) and not svc.contains(MIN, 1, MIN)
    for v in (MAX, MIN, NEG):
        assert svc.get_metadata(v, 1)["count"] == len(py_ids(v))
    assert svc.get_metadata(7, 1) is None

    S, I, U, D = (
        SelectOperationType.SIMPLE_QUERY,
        SelectOperationType.INTERSECTION,
        SelectOperationType.UNION,
        SelectOperationType.DIFFERENCE,
    )

    def leaf(v, **kw):
        return SelectOperation(S, QueryTerm(v, 1, **kw))

    assert svc.count2([[leaf(MAX)], [leaf(MIN)], [leaf(NEG), leaf(MIN), SelectOperation(U)]]) == [
        len(py_ids(MAX)), len(py_ids(MIN)), max(len(py_ids(NEG)), len(py_ids(MIN)))
    ]

    # full-edge pages: walk forward one row at a time, then one step back
    for v, kw in ((MAX, {}), (MIN, {}), (NEG, {"destination_ids": (MAX, 7, MIN, 99)})):
        want = py_edges(v, ids=kw.get("destination_ids"))
        pages, cursor = [], "start"
        while cursor != CURSOR_END:
            page = svc.select_edges(v, 1, count=1, cursor=cursor, **kw)
            pages.append(page)
            cursor = page.next_cursor
        assert [r for p in pages for r in p.rows] == want, v
        back = svc.select_edges(v, 1, count=1, cursor=pages[-1].prev_cursor, **kw)
        assert back.rows == pages[-2].rows, v

    queries = [
        EdgeQuery(Term(1, MAX), count=2),
        EdgeQuery(Term(1, MIN, forward=False), count=5),
        EdgeQuery(Term(1, NEG), destination_ids=(MAX, 7, MIN), count=5),
        EdgeQuery(Term(1, MAX, states=(0, 2)), count=10),
    ]
    got = [p.rows for p in svc.select_edges_batch(queries)]
    assert got == [
        py_edges(MAX)[:2],
        py_edges(MIN, forward=False),
        py_edges(NEG, ids=(MAX, 7, MIN)),
        py_edges(MAX, states=(0, 2)),
    ]

    # select2: batched Start pages, then the per-program path at each cursor
    programs = {
        "max∩neg": ([leaf(MAX), leaf(NEG), SelectOperation(I)], py_ids(MAX) & py_ids(NEG)),
        "max∪min": ([leaf(MAX), leaf(MIN), SelectOperation(U)], py_ids(MAX) | py_ids(MIN)),
        "neg−max": ([leaf(NEG), leaf(MAX), SelectOperation(D)], py_ids(NEG) - py_ids(MAX)),
        "in∩←min": (
            [
                leaf(NEG, destination_ids=(MAX, MIN, 99)),
                leaf(MIN, is_forward=False),
                SelectOperation(I),
            ],
            py_ids(NEG, ids=(MAX, MIN, 99)) & py_ids(MIN, forward=False),
        ),
    }
    firsts = svc.select2([SelectQuery(p, page_count=1) for p, _ in programs.values()])
    for (name, (prog, want)), page in zip(programs.items(), firsts):
        seen = [i for _, i in page.rows]
        while page.next_cursor != CURSOR_END:
            [page] = svc.select2([SelectQuery(prog, page_count=1, cursor=page.next_cursor)])
            seen += [i for _, i in page.rows]
        assert seen == sorted(want, reverse=True), name
        tree = compile_select(prog)
        with mock.patch.object(A, "flat_ids", lambda *_: None):  # join composition
            assert {r["id"] for r in tree.ids(svc.store).collect()} == want, name

    # empty states / empty destination-id lists: empty, never a ParseException
    assert Simple(Term(1, MAX, True, ())).ids(svc.store).collect() == []
    assert svc.select_edges(MAX, 1, states=()).rows == []
    [batched] = svc.select_edges_batch([EdgeQuery(Term(1, MAX, states=()))])
    assert batched.rows == []
    [alone] = svc.select2([SelectQuery([leaf(MAX, states=())])])
    assert alone.rows == []
    union, meet = svc.select2(  # one batched scan
        [
            SelectQuery([leaf(MAX, states=()), leaf(NEG), SelectOperation(U)]),
            SelectQuery([leaf(MAX, destination_ids=()), leaf(NEG), SelectOperation(I)]),
        ]
    )
    assert meet.rows == []
    assert [i for _, i in union.rows] == sorted(py_ids(NEG), reverse=True)


def _jobs_per_call(spark, monkeypatch):
    """A job-group probe: ``count(call)`` is the number of Spark jobs the
    service ran for one call, read from the groups its class scopes set."""
    import flockdb_spark.service as svcmod

    sc = spark.sparkContext
    groups = []
    orig = svcmod.query_class

    class Probe:
        def __init__(self, inner):
            self.inner = inner

        def __enter__(self):
            out = self.inner.__enter__()
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            return out

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    monkeypatch.setattr(svcmod, "query_class", lambda s, cls, t=None: Probe(orig(s, cls, t)))

    def count(call):
        groups.clear()
        call()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)

    return count


def test_pruned_reads_are_one_spark_job(svc, spark, monkeypatch):
    """Every read the layout prunes runs on the serving view as ONE Spark
    job: the flags aggregation, the page window and a cursor page's inner
    LIMIT need no exchange over the coalesced edges.  A read with a
    backward leaf keeps the main session's plan (a cursor page: 2 jobs)."""
    from flockdb_spark.operators.algebra import Term
    from flockdb_spark.service import EdgeQuery

    count = _jobs_per_call(spark, monkeypatch)
    S, I, U, D = (
        SelectOperationType.SIMPLE_QUERY,
        SelectOperationType.INTERSECTION,
        SelectOperationType.UNION,
        SelectOperationType.DIFFERENCE,
    )

    def program(kind, a, b, fwd=True):
        return [
            SelectOperation(S, QueryTerm(a, 1, fwd)),
            SelectOperation(S, QueryTerm(b, 1, fwd)),
            SelectOperation(kind),
        ]

    batch = [SelectQuery(program(k, 1, 2), page_count=1) for k in (I, U, D)]
    first = svc.select2(batch)
    assert isinstance(first[1].next_cursor, Cursor)
    edge_page = svc.select_edges(1, 1, count=1)
    back = [SelectOperation(S, QueryTerm(12, 1, False))]
    [back_page] = svc.select2([SelectQuery(back, page_count=1)])
    assert isinstance(back_page.next_cursor, Cursor)

    jobs = {
        "select2 batch": count(lambda: svc.select2(batch)),
        "select2 cursor": count(
            lambda: svc.select2([SelectQuery(program(U, 1, 2), 1, first[1].next_cursor)])
        ),
        "select_edges cursor": count(
            lambda: svc.select_edges(1, 1, count=1, cursor=edge_page.next_cursor)
        ),
        "select_edges_batch": count(
            lambda: svc.select_edges_batch(
                [EdgeQuery(Term(1, 1), count=1), EdgeQuery(Term(1, 2), (11, 13), count=1)]
            )
        ),
        "backward cursor": count(
            lambda: svc.select2([SelectQuery(back, 1, back_page.next_cursor)])
        ),
    }
    assert jobs == {
        "select2 batch": 1,
        "select2 cursor": 1,
        "select_edges cursor": 1,
        "select_edges_batch": 1,
        "backward cursor": 2,
    }


def test_every_read_path_sees_writes(svc, spark):
    """The serving view is re-bound on every store swap — ``execute``,
    ``bulk_load`` and a direct ``store.edges =`` assignment — so point
    reads, metadata, count2, select2 (batched, leaf and cursor pages),
    select_edges (Start and cursor) and the batch all see the new rows."""
    from flockdb_spark.operators.algebra import Term
    from flockdb_spark.schema import METADATA_SCHEMA
    from flockdb_spark.service import EdgeQuery

    S, U = SelectOperationType.SIMPLE_QUERY, SelectOperationType.UNION

    def reads(src, dest):
        """What each read path says about the edge src -> dest in graph 1."""
        union = [SelectOperation(S, QueryTerm(src, 1)), SelectOperation(S, QueryTerm(2, 1)),
                 SelectOperation(U)]
        leaf = [SelectOperation(S, QueryTerm(src, 1))]
        [batched] = svc.select2([SelectQuery(union, page_count=1)])
        [cursor] = svc.select2([SelectQuery(leaf, page_count=1, cursor=Cursor(2**62, 2**62))])
        [edges] = svc.select_edges_batch([EdgeQuery(Term(1, src))])
        back = svc.select_edges_batch([EdgeQuery(Term(1, dest, forward=False))])[0]
        return {
            "get": svc.get(src, 1, dest) is not None,
            "contains": svc.contains(src, 1, dest),
            "metadata": svc.get_metadata(src, 1) is not None,
            "count2": svc.count2([leaf])[0] > 0,
            "select2 batched": dest in [i for _, i in batched.rows],
            "select2 leaf": dest in [i for _, i in svc.select2([SelectQuery(leaf)])[0].rows],
            "select2 cursor": dest in [i for _, i in cursor.rows],
            "select_edges": dest in [i for _, i in svc.select_edges(src, 1).rows],
            "select_edges cursor": dest in [
                i for _, i in svc.select_edges(src, 1, cursor=Cursor(2**62, 2**62)).rows
            ],
            "select_edges_batch": dest in [i for _, i in edges.rows],
            "backward": src in [i for _, i in back.rows],
        }

    assert not any(reads(7, 999).values())
    svc.execute([op(ExecuteOperationType.ADD, 7, (999,))], at=2000)
    assert all(reads(7, 999).values()), reads(7, 999)

    def metadata_row(src):
        return spark.createDataFrame([(1, src, 1, 0, 100)], METADATA_SCHEMA)

    # bulk_load appends edges and metadata without LWW or count maintenance
    assert not any(reads(8, 888).values())
    svc.bulk_load(edge_rows_df(spark, [(1, 8, 888, 5000, 100, 0)]), metadata_row(8))
    assert all(reads(8, 888).values()), reads(8, 888)

    # a direct assignment is picked up by the next read, with no explicit rebind
    extra = edge_rows_df(spark, [(1, 9, 777, 5000, 100, 0)])
    assert not any(reads(9, 777).values())
    svc.store.edges = svc.store.edges.unionByName(extra)
    svc.store.metadata = svc.store.metadata.unionByName(metadata_row(9))
    assert all(reads(9, 777).values()), reads(9, 777)


def test_serving_session_inherits_the_parent_conf(svc, spark):
    """The serving view's session equals the store's session on every
    modifiable SQL conf the parent has set, runtime sets included, and
    differs only in whole-stage codegen; the parent's setting is unchanged."""
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "7mb")  # a runtime set
    try:
        child = FlockService(svc.store)._session
        assert child is not spark
        parent = spark.conf.getAll
        inherited = child.conf.getAll
        differs = {
            k: (v, inherited.get(k))
            for k, v in parent.items()
            if spark.conf.isModifiable(k) and inherited.get(k) != v
        }
        assert set(differs) <= {key}, differs
        assert inherited["spark.sql.adaptive.autoBroadcastJoinThreshold"] == "7mb"
        assert child.conf.get(key) == "false"
        assert spark.conf.get(key) == before
    finally:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q07_ranks_the_edges_execute_and_bulk_load_publish(spark):
    """``execute`` and ``bulk_load`` publish new tables into the memoized
    store, so q07 over that store ranks the new edge, not the pre-write
    rows."""
    from conftest import SF_DIR as sf_dir
    from flockdb_spark.queries import params_for, q07, store_for

    st = store_for(spark, sf_dir)
    saved = (st.edges, st.metadata)
    first = int(params_for(spark, sf_dir)["first"])
    try:
        svc = FlockService(st)
        svc.execute([op(ExecuteOperationType.ADD, first, (10**12,))], at=2_000_000_000)
        top = q07(spark, sf_dir).where(f"source_id = {first} AND rn = 1").collect()
        assert [r["destination_id"] for r in top] == [10**12]

        svc.bulk_load(edge_rows_df(spark, [(1, first, 10**12 + 1, 1, 100, 0)]))
        top = q07(spark, sf_dir).where(f"source_id = {first} AND rn = 1").collect()
        assert [r["destination_id"] for r in top] == [10**12 + 1]
    finally:
        st.edges, st.metadata = saved


def test_racing_rebinds_never_leave_a_stale_view(svc, monkeypatch):
    """Two reads re-binding the serving view at once — one for the table it
    saw, one for the table assigned since — must not leave the view
    recording the newer table while serving the older.  The probe forces
    the bad interleaving: the older bind replaces the shared view right
    after the newer one did, before the newer reads it back, and publishes
    first.  Binds hold a lock, so the older runs alone (its wait times
    out) and the newer reads back its own table."""
    import threading
    import time

    base = svc.store.edges
    older, newer = (
        base.selectExpr(*(f"{k} AS count" if c == "count" else c for c in base.columns))
        for k in (1, 2)
    )
    older_binding, newer_replaced, older_replaced = (threading.Event() for _ in range(3))
    replace = type(base).createOrReplaceGlobalTempView

    def racing_replace(self, name):
        if self is older and name.endswith("_edges"):
            older_binding.set()
            newer_replaced.wait(timeout=1)
            replace(self, name)
            older_replaced.set()
        elif self is newer and name.endswith("_edges"):
            replace(self, name)
            newer_replaced.set()
            older_replaced.wait(timeout=1)
            time.sleep(0.2)  # the older bind publishes first
        else:
            replace(self, name)

    monkeypatch.setattr(type(base), "createOrReplaceGlobalTempView", racing_replace)
    svc.store.edges = older
    first = threading.Thread(target=svc._store_for)
    first.start()
    assert older_binding.wait(timeout=60)
    svc.store.edges = newer
    second = threading.Thread(target=svc._store_for)
    second.start()
    for t in (first, second):
        t.join(timeout=60)
    assert not first.is_alive() and not second.is_alive()
    assert svc.get(1, 1, 10)["count"] == 2
