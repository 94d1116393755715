"""Derivation of the engine's native ``edges`` / ``metadata`` tables from the
driver's synthetic tables, exactly as declared in FIXTURES.md §2.

Three graphs:
  g1  customer→order   (orders.parquet)    — realistic skew, 3 states
  g2  user→event       (events.parquet)    — all 4 states, timestamp ties
  g3  supplier→part    (lineitem.parquet)  — duplicate (src,dst) pairs deduped
                                             by the W2 temporal merge

Every expression here exists twice: once as a DataFrame derivation (Spark) and
once as a DuckDB SQL CTE used by the correctness oracle.  Tests assert the two
are value-identical.  Epoch arithmetic is integer-exact on both sides:
timestamps with nanosecond precision are read as raw int64 nanos in Spark
(``spark.sql.legacy.parquet.nanosAsLong``) and floor-divided; DuckDB's
``epoch_ms``/``floor(epoch(..))`` truncate identically for positive epochs.

position = epoch_millis << 20 | (key % 2^20), the deterministic variant of the
reference's ordered-uuid scheme (``UuidGenerator.scala:26-39``).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tsutil
from ..schema import EDGE_COLUMNS, POSITION_SHIFT

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _epoch_cols(df: DataFrame, name: str) -> tuple[Column, Column]:
    """(epoch_seconds, epoch_millis) for a timestamp column regardless of how
    the parquet reader surfaced it (int64 nanos / timestamp_ntz / timestamp)."""
    return tsutil.epoch_col(df, name, "s"), tsutil.epoch_col(df, name, "ms")


def _position(ms: Column, key: Column) -> Column:
    return ms * F.lit(POSITION_SHIFT) + F.pmod(key, F.lit(POSITION_SHIFT))


_SCANS: dict[tuple[str, str], DataFrame] = {}


def _fingerprint(sf_dir: str) -> str:
    """Identity of an sf_dir's inputs: its resolved path plus the sorted
    ``(name, size, mtime_ns)`` of its ``*.parquet`` files.  Every memo over
    those inputs keys on it, so data regenerated in place (``gen_sfN.py``
    rewrites a fixed directory) is re-read, never served stale."""
    root = Path(sf_dir).resolve()
    files = sorted(
        (f.name, st.st_size, st.st_mtime_ns)
        for f in root.glob("*.parquet")
        for st in [f.stat()]
    )
    return f"{root}|" + hashlib.sha1(repr(files).encode()).hexdigest()[:12]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table, re-spreading under-parallel scans.

    The driver's parquet ships ONE row group per table, so the planned scan
    has 1-2 input splits and every map-side operator downstream (shingling,
    hashing, tokenizing — the text family's whole cost) would run on 1-2 of
    the session's cores.  Production parquet (many files, row groups sized
    to ``spark.sql.files.maxPartitionBytes``) never hits this branch: those
    scans already carry the cluster's parallelism.  Here the table is spread
    across the cores once and pinned (eager ``localCheckpoint``), the same
    in-session materialization contract as ``queries.store_for`` — gate
    plans then start from a parallel in-memory table, as they would from a
    real multi-file layout.
    """
    spark.conf.set(NANOS_CONF, "true")
    key = (_fingerprint(sf_dir), table)
    cached = _SCANS.get(key)
    if cached is not None and cached.sparkSession is spark:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par).localCheckpoint(eager=True)
        _SCANS[key] = df
    return df


def parquet_nrows(sf_dir: str, table: str) -> int:
    """Row count from the parquet FOOTER — the catalog-statistics path
    (microseconds, zero Spark jobs), exactly how DuckDB answers count(*)
    over parquet.  Callers that only need |T| of an immutable input (the
    hybrid dense-leg selector, the lexical n_docs literal) should use this
    instead of scheduling a count scan per construction; at 100 TB a real
    catalog serves the same number."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified edges DataFrame (all graphs)."""
    orders = _read(spark, sf_dir, "orders")
    events = _read(spark, sf_dir, "events")
    lineitem = _read(spark, sf_dir, "lineitem")

    o_s, o_ms = _epoch_cols(orders, "o_orderdate")
    g1 = orders.select(
        F.lit(1).cast("int").alias("graph_id"),
        F.col("o_custkey").alias("source_id"),
        F.col("o_orderkey").alias("destination_id"),
        _position(o_ms, F.col("o_orderkey")).alias("position"),
        o_s.alias("updated_at"),
        F.lit(0).cast("int").alias("count"),
        F.when(F.col("o_orderstatus") == "O", 0)
        .when(F.col("o_orderstatus") == "F", 2)
        .otherwise(1)
        .cast("int")
        .alias("state"),
    )

    e_s, e_ms = _epoch_cols(events, "ts")
    g2 = events.select(
        F.lit(2).cast("int").alias("graph_id"),
        F.col("user_id").alias("source_id"),
        F.col("event_id").alias("destination_id"),
        _position(e_ms, F.col("event_id")).alias("position"),
        e_s.alias("updated_at"),
        F.lit(0).cast("int").alias("count"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("state"),
    )

    l_s, l_ms = _epoch_cols(lineitem, "l_shipdate")
    # duplicate (src,dst) pairs resolved by last-writer-wins, the same rule as
    # the W2 merge (SqlShard.scala:432-500): newest updated_at, position desc.
    w = Window.partitionBy("source_id", "destination_id").orderBy(
        F.desc("updated_at"), F.desc("position")
    )
    g3 = (
        lineitem.select(
            F.col("l_suppkey").alias("source_id"),
            F.col("l_partkey").alias("destination_id"),
            _position(l_ms, F.col("l_partkey")).alias("position"),
            l_s.alias("updated_at"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.lit(3).cast("int").alias("graph_id"),
            "source_id",
            "destination_id",
            "position",
            "updated_at",
            F.lit(0).cast("int").alias("count"),
            F.lit(0).cast("int").alias("state"),
        )
    )

    return g1.unionByName(g2).unionByName(g3).select(*EDGE_COLUMNS)


def build_metadata(
    spark: SparkSession, sf_dir: str | None, edges: DataFrame | None = None
) -> DataFrame:
    """Per-vertex metadata: count of Normal edges, state Normal, newest ts.

    Derived view per FIXTURES.md: ``count`` = edges in state 0 (the vertex
    state), mirroring the count semantics of ``SqlShard.scala:499``.  The
    one derivation of a store's metadata: ``EdgeStore.from_edges`` and
    ``merge.derive_metadata`` (no prior metadata) call it with ``edges``.
    """
    edges = edges if edges is not None else build_edges(spark, sf_dir)
    return edges.groupBy("graph_id", "source_id").agg(
        F.count(F.when(F.col("state") == 0, 1)).cast("int").alias("count"),
        F.lit(0).cast("int").alias("state"),
        F.max("updated_at").alias("updated_at"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin — same derivation as ANSI SQL CTEs.  The driver
# pre-registers the raw parquet tables as views with the bare table names.
# ---------------------------------------------------------------------------

EDGES_CTE_SQL = """
edges AS (
  SELECT CAST(1 AS INTEGER) AS graph_id,
         o_custkey AS source_id,
         o_orderkey AS destination_id,
         epoch_ms(o_orderdate) * 1048576 + o_orderkey % 1048576 AS position,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS updated_at,
         CAST(0 AS INTEGER) AS "count",
         CAST(CASE o_orderstatus WHEN 'O' THEN 0 WHEN 'F' THEN 2 ELSE 1 END AS INTEGER) AS state
  FROM orders
  UNION ALL
  SELECT CAST(2 AS INTEGER),
         user_id,
         event_id,
         epoch_ms(ts) * 1048576 + event_id % 1048576,
         CAST(floor(epoch(ts)) AS BIGINT),
         CAST(0 AS INTEGER),
         CAST(event_id % 4 AS INTEGER)
  FROM events
  UNION ALL
  SELECT CAST(3 AS INTEGER), source_id, destination_id, position, updated_at,
         CAST(0 AS INTEGER), CAST(0 AS INTEGER)
  FROM (
    SELECT l_suppkey AS source_id,
           l_partkey AS destination_id,
           epoch_ms(l_shipdate) * 1048576 + l_partkey % 1048576 AS position,
           CAST(floor(epoch(l_shipdate)) AS BIGINT) AS updated_at,
           row_number() OVER (
             PARTITION BY l_suppkey, l_partkey
             ORDER BY epoch_ms(l_shipdate) * 1048576 + l_partkey % 1048576 DESC
           ) AS rn
    FROM lineitem) t
  WHERE rn = 1
)
""".strip()

METADATA_CTE_SQL = """
metadata AS (
  SELECT graph_id, source_id,
         CAST(count(*) FILTER (WHERE state = 0) AS INTEGER) AS "count",
         CAST(0 AS INTEGER) AS state,
         max(updated_at) AS updated_at
  FROM edges GROUP BY graph_id, source_id
)
""".strip()

#: 10 smallest customers with ≥3 orders — the fixed query-parameter set
#: (FIXTURES.md §5); computed inside the query so it is stable per scale factor.
SRC10_CTE_SQL = """
src10 AS (
  SELECT o_custkey AS source_id FROM orders
  GROUP BY o_custkey HAVING count(*) >= 3
  ORDER BY o_custkey LIMIT 10
)
""".strip()


def with_fixture_ctes(query_sql: str, *extra_ctes: str) -> str:
    """Wrap a query body in the standard fixture CTEs (edges, metadata, src10)."""
    ctes = [EDGES_CTE_SQL, METADATA_CTE_SQL, SRC10_CTE_SQL, *extra_ctes]
    return "WITH " + ",\n".join(ctes) + "\n" + query_sql


def src10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SRC10_CTE_SQL."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("source_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .orderBy("source_id")
        .limit(10)
        .select("source_id")
    )
