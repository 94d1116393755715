"""SparkSession factory with the engine's scale-oriented defaults.

Local testing runs on local[N]; the same conf block is what we would ship on a
1000-executor cluster — AQE for runtime re-planning (skew joins, empty-relation
propagation), adaptive shuffle partition coalescing, Arrow for the few
pandas-UDF paths, and UTC so epoch arithmetic matches the DuckDB oracle.

Every Python worker runs under the engine's own daemon module,
``flockdb_spark.pyworker`` (``spark.python.daemon.module``): PySpark's stock
worker re-reads the central directory of every zip and jar on its
``sys.path`` before each task (160-235 ms a task on Python 3.11); the
engine's daemon re-reads an archive only when its size or mtime changed.
The package's parent directory is put ahead of any configured
``spark.executorEnv.PYTHONPATH`` in the environment every Python function
ships to its workers (``SparkContext.environment``, read once the JVM has
the full conf), so workers import the engine (the daemon and every engine
UDF) from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_heap(cap_gb: int = 32, floor_gb: int = 8) -> str:
    """Default driver max-heap: min(cap, ~75% of MemAvailable), floored.

    The heap is committed lazily, so the cap is what a heavy query may
    grow into — sizing it from the machine keeps a 16 GB CI container
    from being OOM-killed by a default tuned on a 128 GB box (ADVICE
    r10).  /proc/meminfo is Linux-only; elsewhere fall back to the cap."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1 << 20)  # kB -> GiB
                    return f"{max(floor_gb, min(cap_gb, avail_gb * 3 // 4))}g"
    except OSError:
        pass
    return f"{cap_gb}g"


def get_spark(
    app_name: str = "flockdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime join-side selection, skew splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep Spark's default parallelismFirst=true: coalescing below the
        # cluster's parallelism starves CPU-bound aggregations (measured at
        # sf1.0: triangles 8.6→3.2 s, pagerank 3.4→1.3 s when restored).
        # Near-empty shuffles still collapse via minPartitionSize; the 64 MB
        # advisory size remains the ceiling AQE grows partitions toward at
        # 100 TB, where data/64 MB >> parallelism and the two modes agree.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce INSIDE cached plans too (default false pins a
        # cached subtree's exchanges at spark.sql.shuffle.partitions): the
        # r9 "in-bench session tax" on x91 was exactly this — its cached
        # bigram-type table kept 89 shuffle partitions at sf3.0 (3 waves on
        # 32 threads, steady wall 5.2 s) while AQE coalesced every uncached
        # stage; with this flag the cached exchange coalesces like the rest
        # (18 tasks, 2.7 s).  Cost: a cache hit may repartition when reused
        # under a different requirement — right trade at every SF we run.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # FAIR scheduling makes the O5 per-class pools REAL: each
        # flock_<class> pool (operators/classes.py) gets an equal share of
        # task slots, so a long copy-class scan cannot head-of-line-block a
        # point select — the reference's per-class evaluator isolation
        # (config/production.scala:26-35).  Pools auto-create with weight 1 /
        # minShare 0; a deployment tunes them via a fairscheduler.xml.
        .config("spark.scheduler.mode", "FAIR")
        # epoch arithmetic must be timezone-stable to match the oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow batches for the pandas-UDF slow path (similarity/multimodal)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the engine's daemon: no per-task zip/jar directory re-read
        # (pyworker.py)
        .config("spark.python.daemon.module", "flockdb_spark.pyworker")
        # whole-stage-codegen class cache: the default 100 entries thrash on
        # a many-query session (this engine's 53-line bench compiles
        # 300-500 codegen units; r9 measured every pass recompiling every
        # query — x71 min-of-3 1.25 s in-bench vs 0.59 s once its classes
        # stay cached).  2000 entries ≈ tens of MB of compiled classes —
        # the right trade for ANY long-lived multi-query session, which is
        # exactly what a deployment runs.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM IS the executor — size its heap for the
        # THREAD COUNT, not for a driver's coordination role.  The old 8g
        # default gave 32 task threads ~250 MB each; at sf3+ the tail of a
        # multi-query session ran under continuous GC (r10 measured x111
        # 14.9 s in-bench vs 0.7 s with a 32g heap — same plan, pure GC
        # tax; early-pass queries were unaffected, late-pass inflated
        # 1.5-4x).  32g is max-heap (committed lazily), ~1 GB/thread — the
        # low end of what any production executor gets per core.  The
        # default is clamped to ~75% of MemAvailable (ADVICE r10: on a
        # smaller host a heavy query could lazily commit past physical
        # memory and get the JVM OOM-killed; 8g floor keeps the r9
        # behavior as the worst case).  SPARK_DRIVER_MEMORY overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()),
        )
        # ...and a big heap starves the ContextCleaner: shuffle-file /
        # broadcast cleanup is driven by WEAK REFERENCES, so it only runs
        # after an old-gen GC — which a 32g heap under a multi-query
        # session may not see for tens of minutes (Spark's own backstop,
        # spark.cleaner.periodicGC.interval, defaults to 30min).  r10
        # measured the backlog directly: consecutive sf3.0 LSH index
        # builds degraded 20 s -> 31 s -> 37 s as dead shuffle files
        # accumulated, and recovered to flat ~11-16 s with a forced GC
        # between runs.  2min keeps cleanup ahead of any query sequence —
        # the same interval a long-lived production driver wants.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    spark = builder.getOrCreate()
    # workers find the package from any cwd: its parent goes ahead of the
    # configured spark.executorEnv.PYTHONPATH, which the context has read
    # into the environment every Python function ships with
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p != _PACKAGE_PARENT]
    env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark

