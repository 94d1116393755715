"""O5 — workload classes (SURVEY §2.b): per-class routing and timeouts.

The reference routes every query through a per-class evaluator
(``shards/SqlShard.scala:36-45`` defines the classes; each gets its own
connection pool) with a per-class timeout budget
(``config/production.scala:26-35``: Select 1s, Execute 1s, SelectCopy 15s,
SelectModify 3s, ...).  The Spark-native equivalents, applied around every
service action:

- **routing / isolation** → FAIR scheduler pools: the action's jobs are
  tagged ``spark.scheduler.pool = flock_<class>``, so a cluster running
  ``spark.scheduler.mode=FAIR`` with a pools XML gives each class its own
  weight / minShare — the evaluator-pool split without N connection pools
  (pool weights are deployment config, exactly like the reference's
  ``workPoolSize``).
- **per-class timeouts** → a watchdog that cancels the action's job group
  at the deadline (``interruptOnCancel``), surfacing
  :class:`FlockTimeoutException` — the twin of the reference's
  ``SqlQueryTimeoutException`` path.  Timeouts are DISABLED by default
  locally (the reference's 1s budgets are per-MySQL-shard numbers, not
  Spark-job numbers); a deployment sets ``FlockService.timeouts``.
- **per-query resources** → a :class:`QueryScope`: every intermediate cache
  an operator creates (a cached DataFrame, a Broadcast) is registered with
  :func:`hold` and released when the query's scope ends, so a later
  ``.select()`` or join on the result can no longer lose it.
"""

from __future__ import annotations

import itertools
import threading
from contextlib import contextmanager
from contextvars import ContextVar


class QueryClass:
    """The reference's class names, verbatim (``shards/SqlShard.scala:36-45``)."""

    SELECT = "select"
    EXECUTE = "execute"
    SELECT_SINGLE = "select_single"
    SELECT_MODIFY = "select_modify"
    SELECT_COPY = "select_copy"
    SELECT_INTERSECTION = "select_intersection"
    SELECT_INTERSECTION_SMALL = "select_intersection_small"
    SELECT_METADATA = "select_metadata"


#: scheduler pool per class — one pool per evaluator, as in production.scala
POOLS = {
    c: f"flock_{c}"
    for c in (
        QueryClass.SELECT,
        QueryClass.EXECUTE,
        QueryClass.SELECT_SINGLE,
        QueryClass.SELECT_MODIFY,
        QueryClass.SELECT_COPY,
        QueryClass.SELECT_INTERSECTION,
        QueryClass.SELECT_INTERSECTION_SMALL,
        QueryClass.SELECT_METADATA,
    )
}

_group_counter = itertools.count()


class FlockTimeoutException(Exception):
    """A query class's deadline expired and its job group was cancelled —
    the twin of the reference's ``SqlQueryTimeoutException``
    (``shards/SqlShard.scala``'s timeout rescue path)."""


_ACTIVE: ContextVar["QueryScope | None"] = ContextVar("flockdb_query_scope", default=None)


class QueryScope:
    """The intermediate caches of one query.  :meth:`active` makes the scope
    the innermost one of the current thread (a ``ContextVar``: a new thread
    starts with none, so concurrent service calls stay independent); while
    it is active, :func:`hold` registers each cache an operator creates.
    :meth:`release` unpersists them, blocking, DataFrames and broadcasts
    alike, and never destroys a broadcast: a released frame still
    re-executes (its caches recompute, its broadcasts re-ship lazily).

    Activation and release are separate so one scope can span a frame's
    construction and several executions (bench.py builds a query once and
    releases its caches after each pass); :func:`query_class` pairs them."""

    def __init__(self) -> None:
        self.held: list = []

    @contextmanager
    def active(self):
        token = _ACTIVE.set(self)
        try:
            yield self
        finally:
            _ACTIVE.reset(token)

    def release(self) -> None:
        held, self.held = self.held, []
        for x in held:
            x.unpersist(True)


def hold(x):
    """Register ``x`` (a cached DataFrame or a Broadcast) with the innermost
    active :class:`QueryScope` and return it.  With no scope active this is a
    no-op: a cached DataFrame then stays in Spark's CacheManager until
    ``spark.catalog.clearCache()`` (the CacheManager references it, so
    Spark's ContextCleaner never drops it), and a broadcast keeps its blocks
    until the driver drops its last reference to it."""
    scope = _ACTIVE.get()
    if scope is not None:
        scope.held.append(x)
    return x


@contextmanager
def query_class(spark, cls: str, timeout: float | None = None):
    """Tag every Spark job launched in this block with the class's scheduler
    pool and a cancellable job group; cancel the group (and raise
    :class:`FlockTimeoutException`) if ``timeout`` seconds elapse first.
    The block runs in a fresh :class:`QueryScope`, which it yields and
    releases on exit, the timeout path included.

    Local properties are thread-local in Spark, so concurrent service calls
    on different threads classify independently — the same isolation the
    reference gets from separate evaluators."""
    sc = spark.sparkContext
    prev_pool = sc.getLocalProperty("spark.scheduler.pool")
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    prev_interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    group = f"flockdb-{cls}-{next(_group_counter)}"
    sc.setLocalProperty("spark.scheduler.pool", POOLS[cls])
    sc.setJobGroup(group, f"flockdb {cls}", interruptOnCancel=True)
    fired = threading.Event()
    timer = None
    if timeout is not None:
        def _cancel():
            fired.set()
            sc.cancelJobGroup(group)

        timer = threading.Timer(timeout, _cancel)
        timer.daemon = True
        timer.start()
    scope = QueryScope()
    try:
        with scope.active():
            yield scope
        if fired.is_set():
            raise FlockTimeoutException(f"{cls} exceeded {timeout}s")
    except FlockTimeoutException:
        raise
    except Exception as e:  # noqa: BLE001 — translate the cancelled job
        if fired.is_set():
            raise FlockTimeoutException(f"{cls} exceeded {timeout}s") from e
        raise
    finally:
        if timer is not None:
            timer.cancel()
        sc.setLocalProperty("spark.scheduler.pool", prev_pool)
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", prev_desc)
        sc.setLocalProperty("spark.job.interruptOnCancel", prev_interrupt)
        scope.release()


def class_for_trees(trees, small_max: int) -> str:
    """Classify a select2 batch the way the reference classifies a compound
    query: any set-op / IN-list structure routes to the intersection class,
    the SMALL variant when every IN-list fits the inline tier (the
    reference's ≤-small-table split, ``shards/SqlShard.scala:323-329``);
    plain wildcard scans stay ``select``."""
    from .algebra import Simple, WhereIn

    compound = False
    all_small = True
    for tree in trees:
        stack = [tree]
        while stack:
            node = stack.pop()
            kids = node.children()
            if kids or isinstance(node, WhereIn):
                compound = True
            if isinstance(node, WhereIn) and len(node.in_ids) > small_max:
                all_small = False
            stack.extend(kids)
    if not compound:
        return QueryClass.SELECT
    return (
        QueryClass.SELECT_INTERSECTION_SMALL
        if all_small
        else QueryClass.SELECT_INTERSECTION
    )
