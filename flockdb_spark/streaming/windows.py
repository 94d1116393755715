"""Watermarked event-time windowed aggregation over the write stream.

The reference has no streaming analytics (its "stream" is the async job
queue); this is the Spark-native observability layer a 100 TB deployment
runs next to ingestion: per-graph / per-op write rates in event-time
windows, with a watermark bounding how long state waits for stragglers.

Note the division of labor: the MERGE path needs no watermark at all —
W2 is commutative, so arbitrarily late ops still fold correctly
(streaming/ingest.py, streaming/stateful.py).  Watermarks only appear here,
where windows must CLOSE to bound aggregation state — the textbook
late-data trade-off, chosen per operator rather than globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_write_rates(
    ops: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """ops (streaming, OPS_SCHEMA) → tumbling-window write counts per
    (graph_id, op_state).

    State per key is one count; the watermark evicts windows once event time
    passes window_end + watermark, which both bounds memory and defines the
    late-drop contract (ops later than that are ignored HERE — the merge
    path still applies them to the table).  Precisely: the watermark advances
    at micro-batch boundaries, so a straggler in the same batch that closes
    its window still counts; from the next batch on it is dropped
    (tests/test_streaming.py pins both sides of this line).
    """
    return (
        ops.withColumn("event_time", F.timestamp_seconds(F.col("updated_at")))
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("graph_id"), F.col("op_state"))
        .agg(F.count(F.lit(1)).alias("n_ops"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "graph_id",
            "op_state",
            "n_ops",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    time_col: str = "event_time",
) -> DataFrame:
    """Gap-based sessionization as a STREAM — the same ``session_window``
    expression as the batch operator (queries_ext x20), made stateful by the
    watermark: a session closes (and emits, in append mode) once the
    watermark passes its end, which is exactly last-event + gap.

    State per (user, open session) is one window + one count; memory is
    bounded by active users within the watermark horizon, not stream
    history.  An event landing exactly at prev + gap MERGES into the session
    (the boundary semantic the batch oracle mirrors).

    Output: (user_id, session_start, session_end, n_events) — the batch
    operator's schema, so downstream consumers are engine-mode agnostic.
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap), F.col(user_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            user_col,
            F.unix_seconds(F.col("session_window.start")).alias("session_start"),
            F.unix_seconds(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


_SINK_SEQ = [0]  # memory-sink names must be session-unique


def sessions_available_now(
    spark,
    sf_dir: str,
    gap_s: int = 1800,
    timeout_s: int = 600,
) -> DataFrame:
    """Run :func:`streaming_sessions` as a REAL Structured Streaming query
    over the events parquet (file source, ``availableNow`` trigger, memory
    sink) and return the completed result — the bridge that lets the batch
    correctness gate (DuckDB gaps-and-islands oracle, x20) pin the streaming
    engine's session semantics, not just the batch twin's.

    Complete output mode: the gate drains a bounded backlog, so state for
    every session is still live at the final trigger and the sink holds the
    full session table (append mode would hold back sessions inside the
    final watermark horizon — correct for an unbounded stream, wrong for an
    all-of-history drain).  In production the same pipeline runs append mode
    with the watermark evicting closed sessions.
    """
    from .. import tsutil

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_s = tsutil.epoch_col(ev, "ts", "s")
    stream = streaming_sessions(
        ev.select("user_id", F.timestamp_seconds(ts_s).alias("event_time")),
        gap=f"{gap_s} seconds",
        watermark="1 hour",
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_sessions_{_SINK_SEQ[0]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)


def event_rates_available_now(
    spark,
    sf_dir: str,
    window_s: int = 3600,
    timeout_s: int = 600,
) -> DataFrame:
    """Tumbling-window event rates per type, run on the REAL streaming
    engine over the events parquet (file source → windowed state →
    ``availableNow`` drain → memory sink) — the second streaming oracle
    bridge: where x66 pins merging session windows, this pins fixed
    tumbling windows, the shape every rate/observability dashboard uses.

    Same complete-mode rationale as :func:`sessions_available_now` —
    a bounded backlog drain holds every window's state at the final
    trigger, so the sink is the full rate table; production append mode
    evicts via the watermark instead.
    Output: (window_start_s, event_type, n_events).
    """
    from .. import tsutil

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_s = tsutil.epoch_col(ev, "ts", "s")
    windowed = (
        ev.select("event_type", F.timestamp_seconds(ts_s).alias("event_time"))
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", f"{window_s} seconds"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.unix_seconds(F.col("window.start")).alias("window_start_s"),
            "event_type",
            "n_events",
        )
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_rates_{_SINK_SEQ[0]}"
    q = (
        windowed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)


def streaming_dedup_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup as a STREAM: the maintained (content → kept id, count)
    index that :func:`~flockdb_spark.functions.dedup.incremental_dedup`
    probes, built incrementally — a streaming aggregation keyed on the
    content hash whose state is one (min id, count) pair per distinct
    document, updated as batches arrive.

    This is the always-on form of the batch x01 pass: instead of re-scanning
    the corpus per delta, the ingest stream folds each new document into the
    index; ``min`` and ``count`` are both commutative, so arrival order
    (and cross-batch splits) cannot change the result — no watermark is
    needed and state is bounded by DISTINCT corpus content, the same size
    the batch index would be.

    Output: (kept_doc_id, dup_count) — the x01 schema.
    """
    return (
        docs.groupBy(F.xxhash64(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias("kept_doc_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .select("kept_doc_id", "dup_count")
    )


def dedup_index_available_now(
    spark,
    sf_dir: str,
    timeout_s: int = 600,
) -> DataFrame:
    """Run :func:`streaming_dedup_index` as a REAL Structured Streaming
    query over the documents parquet (file source → stateful hash-agg →
    ``availableNow`` drain → memory sink) — the third streaming oracle
    bridge: x66 pins session state, x68 pins window state, this pins
    UNWINDOWED running-aggregation state (the maintained dedup index)
    against the same GROUP BY text oracle as batch x01.

    Complete mode for the same reason as the other drains: the gate reads
    the full index after a bounded backlog; production runs update mode
    with the sink upserting changed index rows per micro-batch.
    """
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_dedup_{_SINK_SEQ[0]}"
    q = (
        streaming_dedup_index(docs)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)


def sketch_available_now(
    spark,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    timeout_s: int = 600,
) -> DataFrame:
    """Count-min sketch built by the REAL streaming engine over the
    documents parquet (file source → stateful (row, bucket) aggregation →
    ``availableNow`` drain → memory sink) — the fourth streaming oracle
    bridge, and the operator's natural habitat: sketches exist precisely so
    an unbounded stream can keep a bounded frequency summary.  State is the
    depth×width cell grid (constant), cell addition is commutative, no
    watermark needed — the same no-watermark argument as the x74 dedup
    index, with O(1) state instead of O(distinct content).

    The word-count pre-aggregation of the batch path collapses here into
    the same stateful agg (each arriving doc's words explode straight into
    cell increments); the result table is identical because cell addition
    is associative over any grouping of the input.
    """
    from ..functions.text import CMS_MOD, _cms_params, portable_hash, tokens

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    words = docs.select(F.explode(tokens("text")).alias("word")).withColumn(
        "fp", portable_hash("word")
    )
    arms = []
    for r in range(depth):
        a, b = _cms_params(r)
        arms.append(
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(
                    F.pmod(F.col("fp") * F.lit(a) + F.lit(b), F.lit(CMS_MOD)),
                    F.lit(width),
                ).cast("int").alias("bucket"),
            )
        )
    cells = (
        words.select(F.explode(F.array(*arms)).alias("cell"))
        .select(F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_sketch_{_SINK_SEQ[0]}"
    q = (
        cells.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)


def interval_join_available_now(
    spark,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon_s: int = 3600,
    timeout_s: int = 600,
) -> DataFrame:
    """Stream-stream event-time interval join on the REAL streaming engine:
    every ``left_type`` event joined to the same user's ``right_type``
    events within ``[t, t+horizon]`` — the attribution/enrichment join
    (click→purchase, impression→conversion) that motivates Spark's
    stream-stream join state machine.  Fifth streaming oracle bridge: x66
    pins session state, x68 window state, x74 running-agg state, x81
    sketch state — this pins JOIN state (two buffered sides + event-time
    range condition).

    Both sides carry watermarks and the join condition bounds right-time
    against left-time, which is exactly what lets the engine evict buffered
    rows older than (watermark − horizon) instead of holding both streams
    forever — the ONLY join shape that is viable over unbounded input.
    Inner joins emit on match, so append mode yields the complete pair set
    once the backlog drains; the oracle is the plain batch self-join.

    Output: (click_event_id, purchase_event_id, user_id, delay_s).
    """
    from .. import tsutil

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    def _side(kind: str, alias: str):
        ev = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ts_s = tsutil.epoch_col(ev, "ts", "s")
        return ev.where(F.col("event_type") == kind).select(
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.timestamp_seconds(ts_s).alias(f"{alias}_time"),
        )

    left = _side(left_type, "l").withWatermark("l_time", "1 hour")
    right = _side(right_type, "r").withWatermark("r_time", "2 hours")
    joined = left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_time >= l_time "
            f"AND r_time <= l_time + INTERVAL {int(horizon_s)} SECONDS"
        ),
        "inner",
    ).select(
        F.col("l_event_id").alias("click_event_id"),
        F.col("r_event_id").alias("purchase_event_id"),
        F.col("l_user").alias("user_id"),
        (F.unix_seconds(F.col("r_time")) - F.unix_seconds(F.col("l_time")))
        .cast("long")
        .alias("delay_s"),
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_ijoin_{_SINK_SEQ[0]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)


def streaming_ivf_cell_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The maintained IVF routing index as a STREAM: per coarse cell, its
    population and smallest member id, folded incrementally as vectors
    arrive — the stats an ANN query router reads to pick probe budgets and
    a balance monitor watches for skewed cells (the always-on companion to
    the batch ``ivf_ann_topk``, which assigns cells inside its one corpus
    pass and keeps no index).

    Assignment is the IVF rule (argmax dot vs the broadcast centroid
    literals, ties to the lower cid) expressed ENTIRELY in JVM expressions
    — an array of (dot, −cid) structs reduced by ``array_max``, whose
    lexicographic order reproduces (dot DESC, cid ASC) exactly — so the
    stream stays whole-stage-codegen with no Python worker in the loop.
    Count and min are commutative, so arrival order and micro-batch splits
    cannot change the result: no watermark, and state is bounded by
    |cells| rows regardless of stream length.

    Output: (cell, n_vectors, min_vec_id)."""
    from flockdb_spark.functions.similarity import quantized

    q = quantized(vec_col)
    entries = []
    for cid, cvec in centroids:
        cl = F.array(*[F.lit(int(x)).cast("long") for x in cvec])
        dot = F.aggregate(
            F.zip_with(q, cl, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        entries.append(
            F.struct(dot.alias("dot"), F.lit(-int(cid)).cast("long").alias("negcid"))
        )
    best = F.array_max(F.array(*entries))
    cell = (-best["negcid"]).cast("long")
    return (
        emb.select(F.col(id_col).alias("vid"), cell.alias("cell"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vid").cast("long").alias("min_vec_id"),
        )
    )


def ivf_cells_available_now(
    spark,
    sf_dir: str,
    n_centroids: int = 16,
    timeout_s: int = 600,
) -> DataFrame:
    """Run :func:`streaming_ivf_cell_index` as a REAL Structured Streaming
    query over the embeddings parquet (file source → stateless JVM cell
    assignment → stateful per-cell aggregation → ``availableNow`` drain →
    memory sink).  Centroid seeds come from one bounded batch read (the
    ``n_centroids`` smallest ids — the x15 deterministic quantizer), the
    same index-bootstrap a production deployment does before turning the
    ingest stream on.  Complete mode for the gate read; production runs
    update mode with the sink upserting changed cells per micro-batch —
    that path is parity-tested against the batch aggregate over an
    out-of-order two-batch replay
    (test_ivf_cells_update_mode_upsert_matches_batch)."""
    from flockdb_spark.functions.similarity import _np_quantize

    import numpy as np
    import pandas as pd

    path = f"{sf_dir}/embeddings.parquet"
    batch = spark.read.parquet(path)
    cent_rows = batch.orderBy("vec_id").limit(n_centroids).select("vec_id", "embedding").collect()
    order = np.argsort(np.array([r["vec_id"] for r in cent_rows], dtype=np.int64), kind="stable")
    c_mat = _np_quantize(pd.Series([r["embedding"] for r in cent_rows]))[order]
    centroids = [(int(i), [int(x) for x in c_mat[i]]) for i in range(len(order))]

    emb = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    _SINK_SEQ[0] += 1
    name = f"_stream_ivf_cells_{_SINK_SEQ[0]}"
    q = (
        streaming_ivf_cell_index(emb, centroids)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"availableNow drain did not finish within {timeout_s}s; "
                f"memory sink {name!r} would be partial"
            )
    finally:
        q.stop()
    return spark.table(name)
