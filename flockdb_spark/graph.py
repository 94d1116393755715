"""EdgeStore — the engine's handle on a graph dataset.

Replaces the reference's shard/forwarding layer (``ForwardingManager.scala:24-38``):
instead of a hash ring of MySQL shards with two mirrored tables per graph
(forward/backward, ``doc/blog.md:90-93``), one columnar edges DataFrame serves
both directions; Catalyst prunes partitions/files on whichever key the query
filters.  One persisted layout (``write_optimized``: partitioned by graph_id,
range-clustered and sorted by source_id, position) plays the role of both of
the reference's MySQL indexes (``shards/SqlShard.scala:64-67``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import EDGE_COLUMNS
from .sources.edges import build_edges, build_metadata


@dataclass
class EdgeStore:
    spark: SparkSession
    edges: DataFrame
    metadata: DataFrame

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "EdgeStore":
        return cls.from_edges(spark, build_edges(spark, sf_dir))

    @classmethod
    def from_edges(cls, spark: SparkSession, edges: DataFrame, metadata: DataFrame | None = None) -> "EdgeStore":
        if metadata is None:
            metadata = build_metadata(spark, None, edges)
        return cls(spark, edges, metadata)

    # -- direction views ----------------------------------------------------

    def graph(self, graph_id: int) -> DataFrame:
        return self.edges.where(F.col("graph_id") == graph_id)

    def forward(self, graph_id: int, source_id: int, states: tuple[int, ...] = (0,)) -> DataFrame:
        """Edges out of a vertex (R5, ``queries/SimpleQuery.scala:23-47``)."""
        return self.graph(graph_id).where(
            (F.col("source_id") == source_id) & F.col("state").isin(list(states))
        )

    def backward(self, graph_id: int, destination_id: int, states: tuple[int, ...] = (0,)) -> DataFrame:
        """Edges into a vertex — the reference's mirrored `-graph_id` table
        (``ForwardingManager.scala:35-37``) collapses to a filter here."""
        return self.graph(graph_id).where(
            (F.col("destination_id") == destination_id) & F.col("state").isin(list(states))
        )

    # -- persistence --------------------------------------------------------

    def write_optimized(self, path: str) -> None:
        """Persist the edge table in the one layout that replaces the
        reference's two MySQL indexes (``SqlShard.scala:64-67``, §4 of
        SURVEY.md):

        - partitioned by graph_id → partition pruning ≙ per-graph tables
        - RANGE-partitioned then sorted by (source_id, position) → each file
          (and row group) covers a narrow, disjoint source_id range, so
          parquet min/max stats skip everything but the probed range ≙ the
          PRIMARY (source_id, state, position) index.  (Hash repartition
          here would scatter every source range across all files and reduce
          the stats to full-range no-ops — a point read would touch every
          file.)
        - the UNIQUE (source_id, destination_id) index needs no copy: a
          (source_id, destination_id) probe prunes on source_id like any
          forward read, and a dest-ordered scan (q07) sorts the pruned rows
          after one hash exchange.  Backward reads prune on graph_id and
          push the destination filter into the scan (SCALE.md §1).
        """
        (
            self.edges.repartitionByRange("graph_id", "source_id")
            .sortWithinPartitions("source_id", "position")
            .select(*EDGE_COLUMNS)
            .write.mode("overwrite")
            .partitionBy("graph_id")
            .parquet(path)
        )

    @classmethod
    def read_optimized(cls, spark: SparkSession, path: str) -> "EdgeStore":
        edges = spark.read.parquet(path).select(*EDGE_COLUMNS)
        return cls.from_edges(spark, edges)
