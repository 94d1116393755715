"""The query scope owns every intermediate cache: an entry built and run
inside ``query_class`` leaves no cached table or persistent RDD behind,
however its result was composed, its broadcasts are held by the scope, and
a timed-out scope releases what it held too."""

import threading
import time

import pytest
from pyspark import Broadcast
from pyspark.sql import functions as F

from conftest import SF_DIR
from flockdb_spark.operators.classes import (
    FlockTimeoutException,
    QueryClass,
    QueryScope,
    hold,
    query_class,
)

#: every registry entry that caches an intermediate table, and the two
#: whose only held resource is the ANN top-k broadcast
CACHING = [
    "x03_minhash_lsh", "x14_pagerank", "x27_triangles", "x37_boilerplate",
    "x47_bigram_surprisal", "x48_curation_dag", "x84_heavy_hitters",
    "x91_kneser_ney", "x93_personalized_pagerank", "x94_kn_perplexity",
    "x95_collocations", "x103_heavy_hitters_sketch", "x105_vocab_drift",
]
BROADCASTING = ["x101_hybrid_rrf", "x116_mmr_rerank"]


def _cached(spark):
    """(number of CacheManager entries, ids of the persistent RDDs)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.cachedData().size(), set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_query_scope_releases_every_cache(spark):
    import __spark_entry__ as entry
    from flockdb_spark.functions import relevance
    from flockdb_spark.queries import params_for, store_for
    from flockdb_spark.sources.edges import _read

    queries = entry.queries()
    # start from an empty CacheManager: it matches entries by plan, so a
    # plan-equal cache an earlier test left behind (test_functions' unscoped
    # pagerank over the store leaves x14's) is dropped by this scope's
    # release and the count would go down
    spark.catalog.clearCache()
    # the store layout, the fixed parameters and the pinned input scans are
    # session-level memos, built once per input: take them before counting
    store_for(spark, SF_DIR)
    params_for(spark, SF_DIR)
    for table in ("documents", "embeddings", "events"):
        _read(spark, SF_DIR, table)

    def counted():
        # the relevance memos are session-level by design (x99 reuses x25's
        # corpus stats within a bench pass); drop them before counting
        relevance.release_corpus_memo()
        relevance.release_count_memo()
        return _cached(spark)

    for name in CACHING + BROADCASTING:
        n0, rdds0 = counted()
        with query_class(spark, QueryClass.SELECT_COPY) as scope:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            held = list(scope.held)
        n1, rdds1 = counted()
        assert held, name
        assert n1 == n0, name
        assert rdds1 <= rdds0, (name, rdds1 - rdds0)
        if name in BROADCASTING:
            assert any(isinstance(h, Broadcast) for h in held), name


def test_timed_out_scope_still_releases(spark):
    n0, _ = _cached(spark)
    slow = spark.range(0, 200).mapInPandas(
        lambda it: (time.sleep(0.15) or pdf for pdf in it), "id long"
    )
    with pytest.raises(FlockTimeoutException):
        with query_class(spark, QueryClass.SELECT, timeout=0.4):
            cached = hold(spark.range(50).select((F.col("id") * 7).alias("v")).cache())
            cached.count()
            assert cached.storageLevel.useMemory
            slow.crossJoin(slow.withColumnRenamed("id", "id2")).count()
    assert not cached.storageLevel.useMemory
    assert _cached(spark)[0] == n0


def test_hold_goes_to_the_innermost_scope_of_its_own_thread():
    class Cached:
        released = None

        def unpersist(self, blocking):
            self.released = blocking

    outer, inner = QueryScope(), QueryScope()
    a, b, c, loose = Cached(), Cached(), Cached(), Cached()
    assert hold(loose) is loose  # no scope active: a no-op
    with outer.active():
        hold(a)
        with inner.active():
            hold(b)
        # a new thread starts with no active scope
        t = threading.Thread(target=hold, args=(c,))
        t.start()
        t.join(10)
        assert not t.is_alive()
    assert outer.held == [a] and inner.held == [b]
    outer.release()
    assert a.released is True and outer.held == []
    assert b.released is None and c.released is None and loose.released is None
