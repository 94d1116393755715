"""Similarity search over an embedding column (array<float>).

Engine-portability rule used throughout: embeddings are quantized to integer
micro-units (round-half-away(x·1e6) as int64) BEFORE any arithmetic.  Integer
dot products are exact and order-independent, so Spark partial aggregation,
numpy matmul, and any SQL oracle agree bit-for-bit — float reductions would
not.  A 64-dim unit vector's quantized dot stays ≤ ~6.4e13, comfortably int64.

Top-k ANN: one skeleton, a pruning stage plus an exact refine (the split of
REPOSE, ICDE 2021, and of incremental top-k similarity search, EDBT 2020).
Every top-k operator — ``brute_force_topk``, ``int8_ann_topk``,
``ivf_ann_topk``, ``lsh_ann_topk``, ``pq_ann_topk``, ``pq_rerank_topk``,
``ivfpq_ann_topk``, ``ivfpq_trained_ann_topk``, ``binary_ann_topk`` — is
:func:`_ann_topk` plus a per-operator ``candidates`` callback:

1. one :func:`_collect_legs` job fetches the query vectors and any index
   seed rows; the operator's ``build`` turns them into driver state
   (codebooks, ADC tables, probe cells, probe buckets, sketches),
   broadcast once;
2. one ``mapInArrow`` corpus pass: the callback scores each Arrow batch
   (int64 GEMM, int8 GEMM, PQ/ADC lookups, exact dots of the rows in a
   probed cell or bucket, cell-restricted residual ADC, Hamming popcount)
   into (query, row, key) triples; the skeleton drops
   self-pairs and keeps each query's local top-k (:func:`_local_topk`);
3. one query_id exchange ranks by (key, neighbor_id ASC) (:func:`_rank`);
   with a rerank the cut keeps the candidate count and re-ranks by the
   exact ``dot_micro2`` computed in the same pass.

The shared index pieces are :func:`_pq_encode` (per-subspace argmin),
:func:`_adc_tables`, :func:`_pq_train` (per-subspace Lloyd),
:func:`_cell_key` / :func:`_probe_cells` (coarse cells) and
:func:`_lsh_buckets` / :func:`_lsh_probes` (hyperplane buckets).  The IVF
and LSH filters test membership against the broadcast probe cells/buckets
and compute the exact dot only for the surviving pairs
(:func:`_row_dots`); no corpus-side index is materialized.  Each ``*_sql``
function is the DuckDB twin the oracle gate compares against; the twins
share no code with the engine.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classes import hold

MICRO = 1_000_000


def quantized(col) -> F.Column:
    """Column-expression quantizer (F.round is half-away-from-zero, matching
    the numpy path below and SQL ROUND)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * MICRO).cast("long"))


def _np_quantize(series) -> "np.ndarray":  # noqa: F821
    """numpy twin of ``quantized`` — explicit half-away-from-zero (np.round
    would round half-to-even and disagree on exact .5 micro boundaries)."""
    import numpy as np

    m = np.array(series.tolist(), dtype=np.float64) * MICRO
    return (np.trunc(np.abs(m) + 0.5) * np.sign(m)).astype(np.int64)


def _quantize_arrow(arr) -> "np.ndarray":  # noqa: F821
    """Arrow-native twin of :func:`_np_quantize`: a pyarrow ListArray of
    float embeddings → int64 matrix (n, dims), via zero-copy flatten of the
    child buffer instead of per-element Python objects (``Series.tolist``
    materializes every float as a PyObject — the dominant cost of the
    pandas path at corpus scale).  float32 → float64 widening is exact, so
    the quantized values are bit-identical to the pandas path (pinned by
    the x05/x06/x18/x35 oracle gates)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0), dtype=np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    m = flat * MICRO
    q = (np.trunc(np.abs(m) + 0.5) * np.sign(m)).astype(np.int64)
    return q.reshape(n, -1)


def _quantize_arrow_prequantized(arr, n: int) -> "np.ndarray":  # noqa: F821
    """ListArray<int64> of ALREADY-quantized vectors → int64 matrix (n, d),
    zero-copy flatten (no re-quantization)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if n == 0:
        return np.zeros((0, 0), dtype=np.int64)
    return arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64).reshape(n, -1)


def _i64_arrow(arr) -> "np.ndarray":  # noqa: F821
    """int64 numpy view of a pyarrow integer column (combining chunks)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _list_array(mat) -> "pa.ListArray":  # noqa: F821
    """int64 matrix (n, d) → pyarrow ListArray<int64>, built once from the
    flat buffer (reused verbatim across per-table emissions — no per-row
    Python list is ever created)."""
    import numpy as np
    import pyarrow as pa

    n, d = mat.shape
    if d == 0:
        offsets = pa.array(np.zeros(n + 1, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(np.array([], dtype=np.int64)))
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def dot_q(a, b) -> F.Column:
    """Exact integer dot product of two quantized vector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _collect_legs(legs: list[DataFrame]) -> list[list]:
    """ONE construction job for several driver-bounded row sets (r11, guide
    §1.3/§2.4): each leg is tagged with its index and unioned, so a builder
    that needs N tiny slices of the corpus (codebook seeds, training rows,
    query vectors, …) pays a single job-launch floor instead of N sequential
    ones — and at corpus scale the N scans run CONCURRENTLY inside one job
    instead of back-to-back.  A union leg's sort does not survive
    collection, so each leg comes back sorted by its FIRST column (the id,
    for every leg in this module): seed rows are id-ascending without an
    argsort of their own.  The tag rides as the LAST column, so ``row[0]``
    and ``row[1]`` are the leg's own first two columns.

    Returns one list of Rows per leg, in leg order."""
    tagged = None
    for i, leg in enumerate(legs):
        t = leg.select("*", F.lit(i).alias("_leg"))
        tagged = t if tagged is None else tagged.unionByName(t)
    out: list[list] = [[] for _ in legs]
    for r in tagged.collect():
        out[r["_leg"]].append(r)
    for rows in out:
        rows.sort(key=lambda r: r[0])
    return out


def _gemm53(a, b) -> "np.ndarray":  # noqa: F821
    """Exact int64 GEMM through float64 BLAS.

    numpy has NO BLAS kernel for integer matmul — ``int64 @ int64`` falls
    back to a generic C loop ~10-40× slower than dgemm.  Every product in
    this module is exactly representable in float64: micro-quantized unit
    vectors have |x| ≤ 1e6, so any partial sum is bounded by
    dims·1e12 ≈ 6.4e13 ≪ 2^53, and float64 arithmetic on integers below
    2^53 is EXACT — dgemm returns bit-identical values to the integer
    product (asserted on the inputs' maxima, so a silently out-of-range
    caller fails loudly instead of rounding)."""
    import numpy as np

    if a.size == 0 or b.size == 0:
        return np.zeros((a.shape[0], b.shape[1]), dtype=np.int64)
    bound = int(np.abs(a).max()) * int(np.abs(b).max()) * a.shape[1]
    assert bound < (1 << 53), f"gemm53 exactness bound exceeded: {bound}"
    return (a.astype(np.float64) @ b.astype(np.float64)).astype(np.int64)


# --- the top-k skeleton: candidates → local top-k → global rank -----------


def _rows_matrix(rows):
    """``(ids, int64 micro matrix)`` of ``(id, vector, …)`` rows, in row
    order.  The matrix is 2-D even with no rows — ``(0, 0)``, as
    :func:`_quantize_arrow` — where ``_np_quantize`` of an empty series is
    1-D."""
    import numpy as np
    import pandas as pd

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if not rows:
        return ids, np.zeros((0, 0), dtype=np.int64)
    return ids, _np_quantize(pd.Series([r[1] for r in rows]))


def _all_pairs(keys):
    """``(query position, batch row, key)`` triples of a dense (|Q|, n)
    key matrix."""
    import numpy as np

    n_q, n = keys.shape
    return np.repeat(np.arange(n_q), n), np.tile(np.arange(n), n_q), keys.reshape(-1)


def _row_dots(a, b):
    """Exact int64 dot of each row of ``a`` with the same row of ``b`` —
    row-wise over candidate pairs only, exact in float64 on the micro grid
    (the :func:`_gemm53` bound)."""
    import numpy as np

    return np.einsum("ij,ij->i", a.astype(np.float64), b.astype(np.float64)).astype(np.int64)


def _local_topk(qcol, ncol, key, k: int):
    """Indices of each query's first ``k`` rows under (key ASC, neighbor
    ASC) — one lexsort.  Exact: a row of the global top-k is in its own
    batch's local top-k, so ranking only the survivors gives the global
    answer."""
    import numpy as np

    order = np.lexsort((ncol, key, qcol))
    q = qcol[order]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    pos = np.arange(len(q)) - np.repeat(starts, np.diff(np.r_[starts, len(q)]))
    return order[pos < k]


def _rank(df: DataFrame, order: F.Column, k: int) -> DataFrame:
    """Global top-k per query: ``rank`` = row_number over (``order``,
    neighbor_id ASC), kept ≤ k."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return df.withColumn("rank", F.row_number().over(w).cast("int")).where(F.col("rank") <= k)


def _ann_topk(
    scan: DataFrame, query_ids: list[int], candidates, key: str, k: int, *,
    desc: bool = False, rerank: int | None = None, seeds=(), build=None,
    query_rows=None, emit_vectors: bool = False,
) -> DataFrame:
    """The one plan of every Arrow-pass top-k operator.

    ``scan`` projects the corpus to (id, float vector[, extra columns]).  One
    :func:`_collect_legs` job fetches the ``seeds`` legs and the
    ``query_ids`` rows of ``scan`` (a caller holding the query rows passes
    ``query_rows`` and skips it); ``build(seed_rows, query_rows, q_mat)``
    turns them into the operator's index state, broadcast with the query
    matrix.  ONE ``mapInArrow`` corpus pass calls
    ``candidates(v, batch, q_mat, state)`` per Arrow batch (``v`` = the
    batch's micro matrix) for (query position, batch row, key) triples,
    drops self-pairs and keeps each query's local top-k, so the shuffle
    carries ≤ k rows per (query, batch).  ONE query_id exchange then ranks
    by (key DESC if ``desc`` else ASC, neighbor_id ASC).

    ``rerank=n``: the pass also emits each local winner's EXACT integer
    dot (the batch's vectors are in hand — no second corpus gather), the
    global cut keeps ``n`` candidates per query by key, and those re-rank
    by (dot_micro2 DESC, neighbor_id ASC) — two windows, one exchange.
    ``emit_vectors`` carries the winners' micro vectors as ``nv``.  The
    broadcast is held by the active query scope
    (:func:`flockdb_spark.operators.classes.hold`), which unpersists it when
    the query ends.

    Output: (query_id, neighbor_id, key | dot_micro2[, nv], rank)."""
    seed_rows: list[list] = []
    if query_rows is None:
        qids = [int(i) for i in query_ids]
        *seed_rows, query_rows = _collect_legs(
            [*seeds, scan.where(F.col(scan.columns[0]).isin(qids))]
        )
    if not query_rows:  # no query id in the corpus: score nothing, 0 rows
        scan, build = scan.limit(0), None
    q_ids, q_mat = _rows_matrix(query_rows)
    state = build(seed_rows, query_rows, q_mat) if build else None
    bc = hold(scan.sparkSession.sparkContext.broadcast((q_ids, q_mat, state)))
    cut = k if rerank is None else rerank

    def score(batches):
        import pyarrow as pa

        qids_np, qm, st = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = _i64_arrow(batch.column(0))
            v = _quantize_arrow(batch.column(1))
            qpos, row, kcol = candidates(v, batch, qm, st)
            keep = qids_np[qpos] != ids[row]
            qpos, row, kcol = qpos[keep], row[keep], kcol[keep]
            sel = _local_topk(qids_np[qpos], ids[row], -kcol if desc else kcol, cut)
            qpos, row = qpos[sel], row[sel]
            cols = {"query_id": qids_np[qpos], "neighbor_id": ids[row], key: kcol[sel]}
            if rerank is not None:
                cols["dot_micro2"] = _row_dots(v[row], qm[qpos])
            if emit_vectors:
                cols["nv"] = _list_array(v[row])
            yield pa.record_batch(cols)

    schema = f"query_id long, neighbor_id long, {key} long"
    schema += ", dot_micro2 long" * (rerank is not None) + ", nv array<bigint>" * emit_vectors
    scored = scan.mapInArrow(score, schema)
    order = F.desc(key) if desc else F.asc(key)
    if rerank is None:
        return _rank(scored, order, k)
    cand = _rank(scored, order, rerank).select("query_id", "neighbor_id", "dot_micro2")
    return _rank(cand, F.desc("dot_micro2"), k)


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
    emit_vectors: bool = False,
    query_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for each query id (embeddings are unit-norm, so
    dot == cosine).

    Plan shape for scale: the query matrix (tiny) is broadcast; each corpus
    partition does one int64 GEMM and emits only its LOCAL top-k per query, so
    the final exact global ranking shuffles ≤ k rows per (query, partition)
    instead of the whole score matrix.

    ``emit_vectors=True`` additionally carries each surviving candidate's
    quantized vector (``nv``) out of the GEMM pass — consumers that need
    candidate vectors (mmr_rerank_topk) then skip a SECOND corpus pass +
    broadcast join to re-gather them; the extra shuffle payload is bounded
    at ≤ k rows × dims int64 per (query, partition).

    ``query_rows`` lets a caller that has ALREADY collected the (id, vector)
    pairs (e.g. hybrid_rrf_topk's one-job construction union — guide §1.3)
    skip this function's own collect job; the pairs must be exactly the
    ``query_ids`` rows of ``emb``.

    Output: (query_id, neighbor_id, dot_micro2[, nv], rank)."""
    return _ann_topk(
        emb.select(id_col, vec_col), query_ids,
        lambda v, batch, q_mat, _: _all_pairs(_gemm53(q_mat, v.T)),  # exact
        "dot_micro2", k, desc=True, query_rows=query_rows, emit_vectors=emit_vectors,
    )


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    Exact baseline: broadcast the full quantized matrix, GEMM per corpus
    partition, emit only over-threshold pairs.  The driver materialization is
    BOUNDED: more than ``max_rows`` vectors raises instead of silently
    OOM-ing the driver — beyond broadcastable corpus sizes use
    ``lsh_neardup_pairs`` (the scale twin; same output contract, bucketed)."""
    import numpy as np

    all_rows = emb.select(id_col, vec_col).take(max_rows + 1)
    if len(all_rows) > max_rows:
        raise ValueError(
            f"neardup_pairs is the exact broadcast baseline, capped at "
            f"{max_rows} vectors; use lsh_neardup_pairs for larger corpora"
        )
    ids = np.array([r[id_col] for r in all_rows], dtype=np.int64)
    import pandas as pd

    mat = _np_quantize(pd.Series([r[vec_col] for r in all_rows]))
    bc = emb.sparkSession.sparkContext.broadcast((ids, mat))
    thresh = int(threshold * MICRO * MICRO)

    def score(batches):
        import pyarrow as pa

        cids, cmat = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            e_ids = _i64_arrow(batch.column(0))
            e_mat = _quantize_arrow(batch.column(1))
            scores = _gemm53(e_mat, cmat.T)  # (n_part, n_corpus) int64
            li, ri = np.nonzero(scores >= thresh)
            a, b, d = e_ids[li], cids[ri], scores[li, ri]
            keep = a < b
            yield pa.record_batch({"a": a[keep], "b": b[keep], "dot_micro2": d[keep]})

    return emb.select(id_col, vec_col).mapInArrow(score, "a long, b long, dot_micro2 long")


PLANE_MOD = 1_000_000_007


def plane_mult(p: int) -> int:
    """Deterministic per-plane multiplier for the portable ±1 pattern (the
    parity of ``(dim_index · mult) mod 1e9+7`` — odd modulus, so parity is
    balanced; expressible identically in any engine)."""
    return (2654435761 * (p + 11)) % PLANE_MOD or 1


def _plane_sums(
    v, dims: int, planes: int, hash_mode: str, table: int = 0
) -> list[F.Column]:
    """Per-plane signed sums s_p = v · h_p (the quantity whose sign is bit p
    and whose magnitude is the distance-to-hyperplane margin).  ``table``
    seeds an independent hyperplane set per hash table (OR-amplification:
    recall 1-(1-p)^L across L tables); table 0 is the oracle-checked set."""

    def plane_sign(p: int):
        # closure (not a default arg: pyspark counts lambda params strictly)
        p = p + table * planes
        if hash_mode == "portable":
            mult = plane_mult(p)
            # i is INT from sequence(); widen before the ~1e9 multiply
            return lambda x, i: F.when(
                F.pmod(F.pmod(i.cast("long") * mult, F.lit(PLANE_MOD)), F.lit(2)) == 0, x
            ).otherwise(-x)
        return lambda x, i: F.when(
            F.pmod(F.xxhash64(F.lit(p), i), F.lit(2)) == 0, x
        ).otherwise(-x)

    # portable mode indexes dims 1-based so the SQL twin can use range(1, n+1)
    lo = 1 if hash_mode == "portable" else 0
    sums = []
    for p in range(planes):
        signed = F.zip_with(
            v, F.sequence(F.lit(lo), F.lit(dims - 1 + lo)), plane_sign(p)
        )
        sums.append(F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x))
    return sums


def _bucket_of(sums: list[F.Column]) -> F.Column:
    out = F.lit(0).cast("long")
    for p, s_p in enumerate(sums):
        out = out.bitwiseOR(
            F.when(s_p > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return out


def hyperplane_signature(
    vec_col, dims: int, planes: int = 16, hash_mode: str = "xxhash64", table: int = 0
) -> F.Column:
    """Random-hyperplane LSH signature: bit p = sign(v · h_p) where h_p's
    components are deterministic ±1s — derived from xxhash64(p, dim-index)
    in production, or from the parity of a multiplicative scramble in the
    oracle-checkable ``portable`` mode (``lsh_plane_sign_sql`` is the DuckDB
    twin).  Pure column expressions — the hyperplanes are never
    materialized."""
    if planes == 0:  # degenerate: one global bucket (exhaustive comparison)
        return F.lit(0).cast("long")
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _bucket_of(_plane_sums(v, dims, planes, hash_mode, table))


_H_CACHE: dict = {}


def hyperplane_matrix(spark, dims: int, planes: int, hash_mode: str, table: int = 0):
    """The ±1 hyperplane components as a (planes, dims) int64 matrix.

    Derived from the SAME per-(plane, dim) sign rule as ``_plane_sums`` —
    portable mode computes the parity formula directly; xxhash64 mode
    evaluates ``xxhash64(p, i)`` through one dims-row Spark job (memoized) —
    so numpy signing is bit-identical to the column-expression path."""
    import numpy as np

    key = (dims, planes, hash_mode, table)
    if key not in _H_CACHE:
        H = np.empty((planes, dims), dtype=np.int64)
        if hash_mode == "portable":
            for p in range(planes):
                mult = plane_mult(p + table * planes)
                for i in range(dims):
                    H[p, i] = 1 if ((i + 1) * mult) % PLANE_MOD % 2 == 0 else -1
        else:
            rows = spark.range(dims).select(
                F.col("id").cast("int").alias("i"),
                *[
                    F.pmod(
                        F.xxhash64(
                            F.lit(p + table * planes), F.col("id").cast("int")
                        ),
                        F.lit(2),
                    ).alias(f"s{p}")
                    for p in range(planes)
                ],
            ).collect()
            for r in rows:
                for p in range(planes):
                    H[p, r["i"]] = 1 if r[f"s{p}"] == 0 else -1
        _H_CACHE[key] = H
    return _H_CACHE[key]


def _hyperplane_tables(
    spark, dims: int, planes: int, hash_mode: str, n_tables: int, offset: int = 0
):
    """(n_tables, planes, dims) stack of :func:`hyperplane_matrix` for the
    global tables ``offset … offset + n_tables − 1``."""
    import numpy as np

    return np.stack(
        [hyperplane_matrix(spark, dims, planes, hash_mode, t + offset) for t in range(n_tables)]
    )


def _lsh_sums(x, h):
    """(n, planes) exact signed sums ``x · h_p`` and the bucket each sign
    pattern spells (bit p set ⇔ sum p > 0)."""
    import numpy as np

    sums = _gemm53(x, h.T)
    return sums, ((sums > 0).astype(np.int64) << np.arange(h.shape[0])).sum(axis=1)


def _lsh_buckets(x, hs):
    """(n, n_tables) bucket of every row in every table of ``hs``."""
    import numpy as np

    return np.stack([_lsh_sums(x, h)[1] for h in hs], axis=1)


def _np_sign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    planes: int,
    hash_mode: str,
    n_tables: int,
    out_id: str,
    out_vec: str,
    carry_packed_buckets: bool = False,
    table_offset: int = 0,
) -> DataFrame:
    """(out_id, out_vec quantized, tbl, bucket) for every (row, table) — the
    Arrow/numpy twin of signing via ``hyperplane_signature`` column
    expressions.  Spark's higher-order functions are interpreted per element
    (no whole-stage codegen), so expression signing costs
    O(rows·planes·dims) lambda dispatches; here each Arrow batch is one
    int64 GEMM against the broadcast ±1 matrix — bit-identical buckets
    (the gates x06/x18/x35/x38 pin this against the SQL oracle).

    Runs as ``mapInArrow``: the vector column flattens zero-copy into the
    GEMM operand, and the quantized output ListArray is built ONCE from
    the flat int64 buffer and re-emitted verbatim for all ``n_tables``
    batches — the pandas path paid a per-row PyObject round-trip on both
    sides, which dominated wall time at corpus scale.

    ``carry_packed_buckets`` (requires ``planes · n_tables ≤ 64``) adds an
    ``allb`` int64 column: every row's buckets in ALL tables, packed as
    ``n_tables`` chunks of ``planes`` bits.  The column is built ONCE per
    batch and re-emitted verbatim for every table (like the quantized
    vector), so it costs one int64 per row-copy.  A bucket-local consumer
    can then tell whether a candidate pair ALREADY collided in an earlier
    table (any zero chunk in the masked XOR — a SWAR test) and emit each
    pair exactly once: first-collision emission, the standard multi-table
    LSH dedup, replacing a global ``dropDuplicates`` shuffle with a local
    vectorized compare."""
    import numpy as np

    if carry_packed_buckets and planes * n_tables > 64:
        raise ValueError("packed buckets need planes * n_tables <= 64")
    spark = emb.sparkSession
    # table_offset shifts only the SEED (global table index): pass p of a
    # multi-pass run signs with tables [p·L, (p+1)·L) of the uncapped run;
    # the emitted local `tbl` column stays [0, L) so per-pass bucket
    # grouping and first-collision masks are unchanged
    bc = spark.sparkContext.broadcast(
        _hyperplane_tables(spark, dims, planes, hash_mode, n_tables, table_offset)
    )

    def run(batches):
        import pyarrow as pa

        h = bc.value
        n_t = h.shape[0]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = pa.array(_i64_arrow(batch.column(0)))
            v = _quantize_arrow(batch.column(1))
            vec = _list_array(v)
            bmat = _lsh_buckets(v, h)
            allb = None
            if carry_packed_buckets:
                packed = np.zeros(n, dtype=np.uint64)
                for t in range(n_t):
                    packed |= bmat[:, t].astype(np.uint64) << np.uint64(planes * t)
                allb = pa.array(packed.astype(np.int64))
            for t in range(n_t):
                arrays = [
                    ids,
                    vec,
                    pa.array(np.full(n, t, dtype=np.int32)),
                    pa.array(bmat[:, t]),
                ]
                names = [out_id, out_vec, "tbl", "bucket"]
                if allb is not None:
                    arrays.append(allb)
                    names.append("allb")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = f"{out_id} long, {out_vec} array<long>, tbl int, bucket long"
    if carry_packed_buckets:
        schema += ", allb long"
    return emb.select(id_col, vec_col).mapInArrow(run, schema)


def lsh_plane_sign_sql(list_expr: str, p: int, dims: int) -> str:
    """DuckDB twin of one plane's signed sum over a quantized list column."""
    mult = plane_mult(p)
    return (
        f"list_sum(list_transform(range(1, {dims + 1}), i -> "
        f"CASE WHEN ((i * {mult}) % {PLANE_MOD}) % 2 = 0 "
        f"THEN {list_expr}[i] ELSE -{list_expr}[i] END))"
    )


def lsh_bucket_sql(list_expr: str, planes: int, dims: int, table: int = 0) -> str:
    """DuckDB twin of the full portable hyperplane signature.  ``table``
    selects the same independent per-table hyperplane set as
    ``hyperplane_signature(table=t)``: global plane index ``t·planes + p``
    seeds the sign pattern, bit position stays local ``p``."""
    if planes == 0:
        return "CAST(0 AS BIGINT)"
    terms = [
        f"(CASE WHEN {lsh_plane_sign_sql(list_expr, table * planes + p, dims)} > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(planes)
    ]
    return "(" + " + ".join(terms) + ")"


class LshRecallWarning(UserWarning):
    """The auto shape's ``max_tables`` cap traded at-threshold recall below
    the caller's target (1−(1−p)^L model; RECALL.md) — surfaced at call
    time so a 100 TB run never discovers the trade after the fact."""


def lsh_tables_for(
    planes: int,
    threshold: float = 0.45,
    target_recall: float = 0.95,
    max_tables: int = 32,
) -> int:
    """Tables needed for ``target_recall`` at ``planes``: a pair at the
    threshold angle θ = arccos(threshold) collides in one table with
    p = (1 − θ/π)^planes, and L tables OR-amplify to 1 − (1 − p)^L, so
    L = ⌈ln(1 − target) / ln(1 − p)⌉ — capped at ``max_tables`` (past the
    cap, AT-THRESHOLD recall degrades gracefully while the high-cosine
    pairs that are the actual near-dups keep colliding: p grows steeply
    with cosine, see RECALL.md).

    The ratio is rounded to 6 decimals before the ceil so the DuckDB twin
    (``lsh_auto_shape_sql`` pieces in queries_ext) computes the identical
    integer despite last-ulp libm differences in acos/ln/pow."""
    import math

    p = (1 - math.acos(threshold) / math.pi) ** planes
    if p >= 1:  # planes=0: one global bucket collides every pair
        return 1
    raw = math.log(1 - target_recall) / math.log(1 - p)
    return max(1, min(max_tables, math.ceil(round(raw, 6))))


def lsh_modeled_recall(planes: int, n_tables: int, threshold: float = 0.45) -> float:
    """Closed-form AT-THRESHOLD pair recall of an (planes, L) shape:
    1 − (1 − p)^L with p = (1 − θ/π)^planes — the model RECALL.md validated
    against measured sweeps (r7: modeled 0.84/0.53 at sf3.0/sf10 matched
    the measured worst-case synthetic corpus)."""
    import math

    p = (1 - math.acos(threshold) / math.pi) ** max(planes, 0)
    return 1.0 if p >= 1 else 1 - (1 - p) ** max(n_tables, 1)


def lsh_auto_shape_sql(
    corpus_sql: str = "embeddings",
    threshold: float = 0.45,
    target_recall: float = 0.95,
    bucket_budget: int = 512,
    min_planes: int = 4,
    max_tables: int = 32,
    max_passes: int = 4,
) -> str:
    """DuckDB twin of :func:`lsh_auto_shape`, as a one-row SELECT body
    (columns: planes, n_tables, n_passes, n_tables_eff) for a WITH clause —
    the x109 oracle computes the shape from the corpus count INSIDE the
    query, so the same SQL string stays valid at every scale factor.  The
    planes rule is pure integer (smallest k with budget<<k ≥ n); the tables
    rule mirrors :func:`lsh_tables_for` including the round-to-6-decimals
    guard; the pass rule is the integer ceil-div of the uncapped L
    mirroring the recovery in :func:`lsh_auto_shape`."""
    return f"""
  SELECT planes, least(l_unc, {max_tables}) AS n_tables,
         CASE WHEN l_unc > {max_tables}
              THEN least({max_passes}, (l_unc + {max_tables} - 1) // {max_tables})
              ELSE 1 END AS n_passes,
         least(l_unc, {max_tables}) *
         CASE WHEN l_unc > {max_tables}
              THEN least({max_passes}, (l_unc + {max_tables} - 1) // {max_tables})
              ELSE 1 END AS n_tables_eff
  FROM (
    SELECT planes,
           greatest(1, CAST(ceil(round(
             ln(1 - {target_recall}) /
             ln(1 - power(1 - acos({threshold}) / pi(), planes)), 6)) AS BIGINT)) AS l_unc
    FROM (
      -- COALESCE mirrors the Python fallback k=30 when no k in [0,31) fits
      -- (count > budget<<30 — ~5e11 vectors; parity guard, ADVICE r7)
      SELECT greatest({min_planes}, COALESCE((
        SELECT min(k) FROM range(0, 31) r(k)
        WHERE ({bucket_budget} << k) >= (SELECT count(*) FROM {corpus_sql})
      ), 30)) AS planes
    )
  )
"""


def lsh_bucket_dyn_sql(
    list_expr: str, dims: int, t: str = "t", planes: str = "planes"
) -> str:
    """DuckDB twin of ``hyperplane_signature`` with RUNTIME (table, planes)
    — ``t`` and ``planes`` name columns in scope (vs :func:`lsh_bucket_sql`
    which expands a compile-time shape).  Same sign rule: global plane
    index ``t·planes + p`` seeds the multiplicative scramble
    (:func:`plane_mult`), bit position stays local ``p``."""
    # COALESCE(NULLIF(.., 0), 1) mirrors plane_mult's `or 1` zero-multiplier
    # guard (reachable only when the global plane index hits a multiple of
    # PLANE_MOD/gcd — parity with the Python rule regardless, ADVICE r7)
    return (
        f"list_sum(list_transform(range(0, {planes}), p -> "
        f"CASE WHEN list_sum(list_transform(range(1, {dims + 1}), i -> "
        f"CASE WHEN ((i * COALESCE(NULLIF("
        f"(2654435761 * ({t} * {planes} + p + 11)) % {PLANE_MOD}, 0), 1))"
        f" % {PLANE_MOD}) % 2 = 0 "
        f"THEN {list_expr}[i] ELSE -{list_expr}[i] END)) > 0 "
        f"THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))"
    )


def lsh_auto_shape(
    n_vectors: int,
    threshold: float = 0.45,
    target_recall: float = 0.95,
    bucket_budget: int = 512,
    min_planes: int = 2,
    max_tables: int = 32,
    max_passes: int = 4,
) -> dict:
    """RECALL.md's tuning rule as code — size (planes, n_tables) for a
    corpus of ``n_vectors``.  As of r7 this IS the default for
    ``lsh_neardup_pairs`` / ``lsh_ann_topk`` whenever the caller does not
    pin a shape (the operators count the corpus — a parquet
    metadata-cheap job — and size themselves):

    1. ``planes`` bounds the bucket population: the per-bucket exact-rescore
       work is quadratic in |bucket| ≈ n/2^planes, so pick the smallest
       planes keeping it under ``bucket_budget`` (exact integer rule:
       smallest k with ``bucket_budget << k ≥ n`` — reproducible bit-for-bit
       in the SQL oracle, no float log2);
    2. ``n_tables`` buys the recall back (:func:`lsh_tables_for`), capped at
       ``max_tables`` — signing and shuffle cost is linear in L, so the cap
       is the explicit budget past which at-threshold recall is traded for
       wall-clock (above-threshold pairs keep near-full recall; RECALL.md).

    Under the auto rule total candidate work grows ~n·budget·L
    (sub-quadratic, L capped) rather than the n²/2^planes a fixed shape
    degrades to — measured in SCALE.md's sf3→sf10 step.  Returns
    ``{"planes": ..., "n_tables": ...}`` (usable as kwargs for both
    ``lsh_neardup_pairs`` and ``lsh_ann_topk``).

    When the ``max_tables`` cap binds, the shape RECOVERS the target by
    adding PASSES (r11, VERDICT r10 item 3): ``n_passes`` extra rounds of
    ``n_tables`` fresh-seeded tables each (global table index
    ``pass·L + t``, so pass p is exactly tables [p·L, (p+1)·L) of the
    uncapped run).  ``lsh_neardup_pairs`` executes the passes as separate
    chunked jobs and dedups pairs across them — equivalent output to one
    uncapped run, but peak per-job shuffle stays bounded at n·max_tables
    key rows, which is the point of the cap.  Total cost is linear in
    n_passes and VISIBLE in the returned shape — never a silent trade.

    ``max_passes`` bounds the recovery spend.  When even
    ``max_tables·max_passes`` effective tables leave the MODELED
    at-threshold recall (:func:`lsh_modeled_recall`) below
    ``target_recall``, the ``LshRecallWarning`` fires naming both numbers
    and the escape hatches (VERDICT r7; RECALL.md measured 0.53 at sf10).
    That regime is intrinsic, not an implementation gap: hyperplane LSH
    needs L ≈ ln(1/(1−target))/p tables, and at a loose threshold like
    cos 0.45 (ρ = ln p₁/ln p₂ ≈ 0.62; Andoni & Indyk, CACM 2008) the
    required L at n=50M is ~4700 — recoverable for near-dup thresholds
    (cos ≥ ~0.8: ≤5 passes), loud for topical-similarity ones."""
    import warnings

    n = max(int(n_vectors), 1)
    k = next((k for k in range(0, 31) if (bucket_budget << k) >= n), 30)
    planes = max(min_planes, k)
    l_unc = lsh_tables_for(planes, threshold, target_recall, 1 << 30)
    n_tables = min(l_unc, max_tables)
    n_passes = (
        min(max_passes, (l_unc + max_tables - 1) // max_tables)
        if l_unc > max_tables
        else 1
    )
    modeled = lsh_modeled_recall(planes, n_tables * n_passes, threshold)
    # strict tolerance band: the ceil in lsh_tables_for guarantees modeled
    # ≥ target whenever the caps do NOT bind, so any shortfall is the caps
    if modeled < target_recall - 1e-9:
        warnings.warn(
            f"LSH auto shape for n={n}: the max_tables={max_tables} × "
            f"max_passes={max_passes} budget binds (planes={planes} would "
            f"need {l_unc} tables); modeled at-threshold recall "
            f"{modeled:.3f} < target {target_recall} even after "
            f"{n_passes}-pass recovery. Above-threshold pairs keep "
            f"near-full recall (p grows steeply with cosine). To recover "
            f"at-threshold recall: raise max_passes/max_tables, raise "
            f"bucket_budget (fewer planes), or raise the threshold — "
            f"see RECALL.md.",
            LshRecallWarning,
            stacklevel=3,
        )
    return {"planes": planes, "n_tables": n_tables, "n_passes": n_passes}


def lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    planes: int | None = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_mode: str = "xxhash64",
    n_tables: int | None = None,
    n_vectors: int | None = None,
    n_passes: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs beyond broadcastable corpus sizes: candidates
    = same random-hyperplane bucket (high-cosine pairs land together with
    P ≈ (1 - θ/π)^planes), exact integer dot only inside buckets.

    The scale twin of ``neardup_pairs`` (which broadcasts the whole matrix):
    here both sides shuffle once on the bucket key and the quadratic blow-up
    is bounded per bucket.  Single-table recall per pair is
    p = (1 - θ/π)^planes; ``n_tables`` OR-amplifies it to 1-(1-p)^L with L
    independent hyperplane sets (production tuning lives in RECALL.md —
    planes bounds the bucket size, tables buy recall).

    By default (``planes=None``/``n_tables=None``) the shape AUTO-SIZES to
    the corpus: one metadata-cheap ``count()`` feeds
    :func:`lsh_auto_shape` (planes from a 512-row bucket budget with a
    floor of 4, tables from the 0.95 at-threshold recall target capped at
    32).  Below ~8k vectors this reproduces the RECALL.md-measured
    production shape (planes=4, n_tables=16, pair recall 0.97) exactly —
    the x18 gate pins that shape explicitly, x109 gates the auto rule
    itself — and above it planes grows with log₂(n), keeping candidate
    work ~n·budget·L instead of the n²/2^planes a fixed shape degrades to
    (the r6 SCALE.md sf10 finding).  Pass explicit values to pin a shape
    (cheaper low-L variants stay gated by x53).

    When the auto shape's table cap binds, ``n_passes`` > 1 recovers the
    recall target (r11): pass p re-signs with tables [p·L, (p+1)·L) of
    the uncapped run (fresh seeds — the global-table-index scheme) as its
    OWN bucket-join job, and pairs are deduped across passes.  The output
    set is identical to one run with n_passes·L tables; the chunking
    bounds peak per-job shuffle at n·L key rows instead of n·L_uncapped
    (x122 gates the equivalence: 2 passes of 8 ≡ the pinned 16-table x18
    shape).  Cost is linear in n_passes and declared in the auto shape.
    Output: (a, b, dot_micro2) with a < b, dot ≥ threshold."""
    if planes is None:
        # n_vectors lets a caller that already counted skip the count job
        shape = lsh_auto_shape(
            emb.count() if n_vectors is None else n_vectors,
            threshold=threshold, target_recall=0.95,
            bucket_budget=512, min_planes=4, max_tables=32,
        )
        planes = shape["planes"]
        if n_tables is None:
            n_tables = shape["n_tables"]
        if n_passes is None:
            n_passes = shape["n_passes"]
    if n_tables is None:
        # derive L from the planes actually in effect (the caller may have
        # pinned planes while leaving tables to the recall rule)
        n_tables = lsh_tables_for(planes, threshold, 0.95, 32)
    n_passes = 1 if n_passes is None else max(int(n_passes), 1)
    thresh = int(threshold * MICRO * MICRO)

    # Candidate scoring is a per-bucket numpy int64 GEMM (applyInArrow):
    # one shuffle on the bucket key, then each bucket's m×m dot block is
    # vectorized Arrow-side — the same exact integer dots as dot_q, ~40×
    # the per-pair higher-order-function chain at sf1.0 candidate volumes.
    # The vector column flattens zero-copy out of the Arrow table (the old
    # applyInPandas path re-materialized every element as a PyObject).
    # Row-chunked so a skewed bucket's score block stays bounded in memory;
    # the real bucket-size control is `planes` (RECALL.md: pick planes by
    # bucket budget, tables by recall target).
    def score_bucket(tbl):
        import numpy as np
        import pyarrow as pa

        ids = _i64_arrow(tbl.column("_id"))
        mat = _quantize_arrow_prequantized(tbl.column("_v"), len(ids))
        # first-collision emission (multi-table): each row carries ALL its
        # table buckets packed into one int64 (planes bits per table); a
        # pair that shared any EARLIER table's bucket was already emitted
        # there, so this bucket skips it — a SWAR zero-chunk test on the
        # masked XOR, instead of a global dropDuplicates shuffle over the
        # ~L×-redundant candidate stream
        allb = None
        if "allb" in tbl.column_names and len(ids):
            t_idx = tbl.column("tbl")[0].as_py()
            if t_idx > 0:
                allb = _i64_arrow(tbl.column("allb")).astype(np.uint64)
                n_chunks = 64 // planes
                low = sum(
                    ((1 << (planes - 1)) - 1) << (planes * i) for i in range(n_chunks)
                )
                high = sum((1 << (planes - 1)) << (planes * i) for i in range(n_chunks))
                LOW, HIGH = np.uint64(low), np.uint64(high)
                # mask = the first t_idx chunks (t_idx < n_tables, so < 64 bits);
                # unmasked chunks are forced to all-ones (never read as zero)
                INV = np.uint64(((1 << 64) - 1) ^ ((1 << (planes * t_idx)) - 1))
        chunks_a, chunks_b, chunks_d = [], [], []
        for lo in range(0, len(ids), 2048):
            hi = min(lo + 2048, len(ids))
            s = _gemm53(mat[lo:hi], mat.T)  # (chunk, m) int64 — exact
            li, ri = np.nonzero(s >= thresh)
            a, b, d = ids[lo + li], ids[ri], s[li, ri]
            keep = a < b
            if allb is not None:
                z = (allb[lo + li] ^ allb[ri]) | INV
                # chunk == 0  ⇔  high bit of (z | ((z & LOW) + LOW)) clear
                earlier = ((z | ((z & LOW) + LOW)) & HIGH) != HIGH
                keep &= ~earlier
            chunks_a.append(a[keep])
            chunks_b.append(b[keep])
            chunks_d.append(d[keep])
        cat = lambda xs: np.concatenate(xs) if xs else np.array([], dtype=np.int64)  # noqa: E731
        return pa.table(
            {"a": cat(chunks_a), "b": cat(chunks_b), "dot_micro2": cat(chunks_d)}
        )

    # corpus signing is the vectorized numpy path (read once, no cache);
    # planes=0 keeps the degenerate one-bucket column expression
    def one_pass(table_offset: int) -> DataFrame:
        if planes == 0:
            sig = emb.select(
                F.col(id_col).alias("_id"), quantized(vec_col).alias("_v")
            ).select(
                "_id", "_v",
                F.lit(0).alias("tbl"), F.lit(0).cast("long").alias("bucket"),
            )
        else:
            sig = _np_sign(
                emb, id_col, vec_col, dims, planes, hash_mode, n_tables,
                "_id", "_v",
                carry_packed_buckets=n_tables > 1 and planes * n_tables <= 64,
                table_offset=table_offset,
            )
        return sig.groupBy("tbl", "bucket").applyInArrow(
            score_bucket, "a long, b long, dot_micro2 long"
        )

    out = one_pass(0)
    for p in range(1, n_passes):
        out = out.unionByName(one_pass(p * n_tables))
    # single-table: each id carries exactly ONE bucket per table, so a pair
    # meets in one (tbl, bucket).  Multi-table with packed buckets:
    # first-collision emission makes each pair globally unique WITHIN a
    # pass.  The unpackable shapes (planes·n_tables > 64) and multi-pass
    # runs (a pair can collide in several passes) need the dedup pass —
    # dot_micro2 is pair-determined, so any survivor row is the right one.
    if (n_tables > 1 and planes * n_tables > 64) or n_passes > 1:
        out = out.dropDuplicates(["a", "b"])
    return out


def _cell_key(x, c_mat, by_d2: bool):
    """(n, K) coarse-cell ranking key, smaller = nearer: ``−x·c`` (the
    dot-argmax rule) or ``|c|² − 2x·c`` (argmin squared distance; ``|x|²``
    is constant per row).  Exact int64 with centroid rows in ascending cid,
    so argmin / a stable argsort break ties toward the lower cid — the
    oracles' (key, cid ASC) order."""
    g = _gemm53(x, c_mat.T)
    return (c_mat * c_mat).sum(1)[None, :] - 2 * g if by_d2 else -g


def _probe_cells(q_mat, c_mat, n_probe: int, by_d2: bool):
    """Each query's ``n_probe`` nearest cells (row indices into ``c_mat``),
    nearest first; clamped to the number of cells."""
    import numpy as np

    return np.argsort(_cell_key(q_mat, c_mat, by_d2), axis=1, kind="stable")[:, :n_probe]


def _ivf_candidates(v, batch, q_mat, index):
    """Coarse-assign the batch (ties → lower cid) and pair each row with
    every query that probes its cell, keyed by the exact dot."""
    import numpy as np

    c_mat, probe = index
    cell = _cell_key(v, c_mat, False).argmin(axis=1)
    qpos, _, row = np.nonzero(cell[None, None, :] == probe[:, :, None])
    return qpos, row, _row_dots(v[row], q_mat[qpos])


def ivf_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into centroid
    cells, search only the query's ``n_probe`` nearest cells, exact-rerank
    inside them.

    The coarse quantizer here is deterministic — centroids are the embeddings
    of the ``n_centroids`` smallest ids — so results are oracle-checkable; a
    production system k-means-trains them (:func:`kmeans_fit`).  Plan shape:
    :func:`_ann_topk` — one job collects the centroid seeds and the query
    rows, the query probe cells are computed driver-side
    (:func:`_probe_cells`, so ``n_probe`` clamps to the cell count), and the
    one corpus pass assigns each Arrow batch's rows to their nearest cell
    (dot-argmax, ties → lower cid) and scores only the rows in a query's
    probed cells, with the exact integer dot.  ``ivfpq_ann_topk`` is the
    same plan with residual-PQ scoring.

    Output: (query_id, neighbor_id, dot_micro2, rank) — same contract as
    ``brute_force_topk`` / ``lsh_ann_topk``."""

    def build(seed_rows, q_rows, q_mat):
        c_mat = _rows_matrix(seed_rows[0])[1]  # ascending cid (see _cell_key)
        return c_mat, _probe_cells(q_mat, c_mat, n_probe, False)

    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _ivf_candidates, "dot_micro2", k, desc=True,
        seeds=[emb.orderBy(id_col).limit(n_centroids).select(id_col, vec_col)], build=build,
    )


def _subspace_d2(x, cw, n_subspaces: int, sub: int):
    """Per subspace m (columns ``m·sub … (m+1)·sub``), the (len(x), len(cw))
    squared distances between the rows' and the codewords' sub-vectors —
    ``x² + c² − 2xc``, every term exact int64 on the micro grid."""
    for m in range(n_subspaces):
        xs, cs = x[:, m * sub : (m + 1) * sub], cw[:, m * sub : (m + 1) * sub]
        yield (xs * xs).sum(1)[:, None] + (cs * cs).sum(1)[None, :] - 2 * _gemm53(xs, cs.T)


def _pq_encode(x, cw, n_subspaces: int, sub: int):
    """(n, M) PQ codes: per subspace, the nearest codeword (ties fall to
    the LOWER code — np.argmin takes the first minimum, matching the twins'
    (d2 ASC, code ASC) row_number)."""
    import numpy as np

    return np.stack([d2.argmin(axis=1) for d2 in _subspace_d2(x, cw, n_subspaces, sub)], axis=1)


def _adc_tables(x, cw, n_subspaces: int, sub: int):
    """(n, M, C) ADC lookup tables: ``tables[i, m, c] = ||x_i,m − cw_c,m||²``
    — for query rows, driver-bounded |Q|·M·C int64s."""
    import numpy as np

    return np.stack(list(_subspace_d2(x, cw, n_subspaces, sub)), axis=1)


def _pq_train(x, cw, n_subspaces: int, sub: int, rounds: int):
    """Deterministic per-subspace Lloyd refinement of codebook ``cw`` on the
    sample ``x``: assignment ties fall to the lower code (argmin-first),
    the update is the element-wise FLOOR integer mean (the twins'
    floor(sum/count)), and an empty cluster keeps its previous codeword.
    x113/x118 gate this loop bit-for-bit."""
    import numpy as np

    cw = cw.copy()
    for _ in range(rounds):
        codes = _pq_encode(x, cw, n_subspaces, sub)
        for m, c in np.ndindex(n_subspaces, len(cw)):
            members = x[codes[:, m] == c, m * sub : (m + 1) * sub]
            if len(members):
                cw[c, m * sub : (m + 1) * sub] = np.floor_divide(members.sum(0), len(members))
    return cw


def _pq_candidates(v, batch, q_mat, index):
    """Encode the batch, then ADC: Σ_m tables[q, m, code_m] for every
    (query, row) — M table lookups per pair instead of a dims-wide dot."""
    import numpy as np

    cw, tables, sub = index
    codes = _pq_encode(v, cw, tables.shape[1], sub)
    return _all_pairs(tables[:, np.arange(tables.shape[1]), codes].sum(axis=2))


def _pq_topk(
    emb: DataFrame, query_ids: list[int], k: int, rerank: int | None,
    n_subspaces: int = 8, n_codes: int = 16, dims: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    train_rounds: int = 0, n_train: int = 256,
) -> DataFrame:
    """:func:`pq_ann_topk`, or with ``rerank`` = a candidate count
    :func:`pq_rerank_topk`'s exact-dot rerank of the ADC winners."""
    # codebook seeds (the n_codes smallest ids) and, when training, the
    # n_train sample ride the query vectors' collect job
    seeds = [emb.orderBy(id_col).limit(n_codes).select(id_col, vec_col)]
    if train_rounds > 0:
        seeds.append(emb.orderBy(id_col).limit(n_train).select(id_col, vec_col))

    sub = dims // n_subspaces

    def build(seed_rows, q_rows, q_mat):
        cw = _rows_matrix(seed_rows[0])[1]  # (C, dims), code id == id rank
        if train_rounds > 0:
            cw = _pq_train(_rows_matrix(seed_rows[1])[1], cw, n_subspaces, sub, train_rounds)
        return cw, _adc_tables(q_mat, cw, n_subspaces, sub), sub

    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _pq_candidates, "adist", k,
        rerank=rerank, seeds=seeds, build=build,
    )


def pq_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rounds: int = 0,
    n_train: int = 256,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): split each vector into
    ``n_subspaces`` sub-vectors, quantize each against a per-subspace
    codebook of ``n_codes`` codewords, and rank candidates by ASYMMETRIC
    DISTANCE (ADC) — the exact query sub-vector against each candidate's
    codeword, summed across subspaces.

    This is the RAM-resident serving path at 100 TB: a 64-dim embedding
    (256 bytes float32 / 512 bytes as micro-ints) compresses to
    ``n_subspaces`` code ids (8 bytes here) — 32-64×, so a corpus whose
    raw vectors need a cluster's aggregate disk fits its aggregate RAM as
    codes, and scoring is ``n_subspaces`` table lookups per candidate
    instead of a ``dims``-wide dot.  The codebooks here are deterministic
    (codewords = the sub-vectors of the ``n_codes`` smallest ids — the
    same oracle-checkable seeding as ``ivf_ann_topk``'s coarse quantizer;
    ``train_rounds`` > 0 refines them by per-subspace Lloyd rounds on the
    ``n_train`` smallest ids, :func:`_pq_train`).

    Plan shape: one Arrow pass encodes the corpus AND scores every query
    (codebooks + per-query ADC tables are a driver-bounded
    |Q|·M·C int64 broadcast), emitting only each batch's local top-k per
    query; the final window ranks ≤ k·partitions rows per query.  All
    arithmetic is exact int64 on the micro-quantized grid, so the DuckDB
    twin (x112) reproduces every distance bit-for-bit.

    Output: (query_id, neighbor_id, adist, rank) — adist ASC (smaller is
    closer), ties broken by neighbor_id; rank ≤ k, self excluded."""
    return _pq_topk(
        emb, query_ids, k, None, n_subspaces, n_codes, dims, id_col, vec_col,
        train_rounds, n_train,
    )


def pq_ann_sql(
    query_ids: list[int],
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    train_rounds: int = 0,
    n_train: int = 256,
) -> str:
    """DuckDB twin of :func:`pq_ann_topk`: deterministic codebooks (the
    ``n_codes`` smallest ids), per-subspace argmin encoding, and the ADC
    join — subspaces unrolled, every distance the same exact int64
    ``q² + c² − 2qc`` on the micro grid.

    With ``train_rounds > 0`` the twin replays the Lloyd refinement
    EXACTLY: per round, argmin assignment of the ``n_train`` sample
    (ties → lower code), element-wise ``floor(sum/count)`` centroid
    update (DuckDB's ``//`` TRUNCATES toward zero on negatives, so the
    explicit floor matches numpy's ``floor_divide``), empty clusters
    keep the previous codeword — every round MATERIALIZED (x113)."""
    sub = dims // n_subspaces
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    if train_rounds > 0:
        return _pq_trained_sql(
            query_ids, k, n_subspaces, n_codes, dims, train_rounds, n_train, quant
        )

    def d2(a: str, b: str, m: int) -> str:
        lo, hi = m * sub + 1, (m + 1) * sub
        sa, sb = f"list_slice({a}, {lo}, {hi})", f"list_slice({b}, {lo}, {hi})"
        return (
            f"CAST(list_dot_product({sa}, {sa}) + list_dot_product({sb}, {sb})"
            f" - 2 * list_dot_product({sa}, {sb}) AS BIGINT)"
        )

    arms = "\n  UNION ALL\n".join(
        f"  SELECT v.vec_id, {m} AS m, c.code, {d2('v.ev', 'c.cv', m)} AS d2\n"
        f"  FROM v, cents c"
        for m in range(n_subspaces)
    )
    in_list = ", ".join(str(int(i)) for i in query_ids)
    return f"""
WITH cents AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         {quant} AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_codes})
),
v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
cd AS MATERIALIZED (
{arms}
),
enc AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
    ) AS arn FROM cd
  ) WHERE arn = 1
),
qtab AS MATERIALIZED (
  SELECT vec_id AS query_id, m, code, d2 FROM cd WHERE vec_id IN ({in_list})
),
adc AS (
  SELECT t.query_id, e.vec_id AS neighbor_id, CAST(sum(t.d2) AS BIGINT) AS adist
  FROM enc e JOIN qtab t ON e.m = t.m AND e.code = t.code
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM adc
QUALIFY rank <= {k}
"""


def pq_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **pq_kwargs,
) -> DataFrame:
    """The standard two-stage PQ serving recipe: PQ/ADC prefilter to
    ``candidates`` per query (compressed-domain, table lookups only), then
    EXACT integer-dot rerank of just those candidates — recall becomes the
    prefilter's capture rate (measured in RECALL.md: trained C=256 top-100
    holds 0.74 of the true top-10 at sf1.0 vs 0.24 for raw ADC top-10)
    while the exact-scoring cost drops from corpus-sized to
    |Q|·candidates.  At 100 TB the exact rerank rides the ADC pass itself
    (the scorer already holds each batch's vectors, so the exact dot of
    the local winners is a row-wise einsum, not a second corpus gather):
    one corpus pass, no joins, one exchange (:func:`_ann_topk`).

    Output: (query_id, neighbor_id, dot_micro2, rank) — the exact-dot
    contract shared by brute_force_topk / lsh_ann_topk / ivf_ann_topk."""
    return _pq_topk(
        emb, query_ids, k, candidates, id_col=id_col, vec_col=vec_col, **pq_kwargs
    )


def pq_rerank_sql(
    query_ids: list[int],
    k: int = 10,
    candidates: int = 100,
    **pq_sql_kwargs,
) -> str:
    """DuckDB twin of :func:`pq_rerank_topk`: the PQ twin (at
    ``k=candidates``) as a subquery, exact-rerank join on top."""
    inner = pq_ann_sql(query_ids, k=candidates, **pq_sql_kwargs)
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    in_list = ", ".join(str(int(i)) for i in query_ids)
    return f"""
WITH cand AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({inner})
),
qv AS (SELECT vec_id AS query_id, {quant} AS qv FROM embeddings
       WHERE vec_id IN ({in_list})),
rer AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_dot_product(q.qv, {quant.replace("embedding", "e.embedding")}) AS BIGINT) AS dot_micro2
  FROM cand c
  JOIN qv q USING (query_id)
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM rer
QUALIFY rank <= {k}
"""


def _pq_trained_sql(
    query_ids: list[int],
    k: int,
    n_subspaces: int,
    n_codes: int,
    dims: int,
    train_rounds: int,
    n_train: int,
    quant: str,
) -> str:
    """The trained-codebook branch of :func:`pq_ann_sql` (x113)."""
    sub = dims // n_subspaces
    in_list = ", ".join(str(int(i)) for i in query_ids)
    # per-(m, code) 8-dim codeword lists; the dynamic-slice d2 expression
    sl_ev = f"list_slice(t.ev, c.m * {sub} + 1, (c.m + 1) * {sub})"
    d2_train = (
        f"CAST(list_dot_product({sl_ev}, {sl_ev})"
        f" + list_dot_product(c.cw, c.cw)"
        f" - 2 * list_dot_product({sl_ev}, c.cw) AS BIGINT)"
    )
    rounds = []
    for r in range(1, train_rounds + 1):
        rounds.append(f"""asg{r} AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT t.vec_id, c.m, c.code,
           row_number() OVER (
             PARTITION BY t.vec_id, c.m ORDER BY {d2_train} ASC, c.code ASC
           ) AS rn
    FROM train t CROSS JOIN cb{r - 1} c
  ) WHERE rn = 1
),
upd{r} AS MATERIALIZED (
  SELECT a.m, a.code, i.i,
         CAST(floor(sum(t.ev[a.m * {sub} + i.i]) / count(*)) AS DOUBLE) AS val
  FROM asg{r} a JOIN train t USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {sub + 1})) AS i) i
  GROUP BY a.m, a.code, i.i
),
cb{r} AS MATERIALIZED (
  SELECT c.m, c.code, coalesce(u.cw, c.cw) AS cw
  FROM cb{r - 1} c LEFT JOIN (
    SELECT m, code, list(val ORDER BY i) AS cw FROM upd{r} GROUP BY m, code
  ) u USING (m, code)
)""")
    sl_v = f"list_slice(v.ev, c.m * {sub} + 1, (c.m + 1) * {sub})"
    d2_corpus = (
        f"CAST(list_dot_product({sl_v}, {sl_v})"
        f" + list_dot_product(c.cw, c.cw)"
        f" - 2 * list_dot_product({sl_v}, c.cw) AS BIGINT)"
    )
    return f"""
WITH cents AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         {quant} AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_codes})
),
v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
train AS MATERIALIZED (
  SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT {n_train}
),
cb0 AS MATERIALIZED (
  SELECT m.m, c.code, list_slice(c.cv, m.m * {sub} + 1, (m.m + 1) * {sub}) AS cw
  FROM cents c CROSS JOIN (SELECT unnest(range(0, {n_subspaces})) AS m) m
),
{",".join(rounds)},
cd AS MATERIALIZED (
  SELECT v.vec_id, c.m, c.code, {d2_corpus} AS d2
  FROM v CROSS JOIN cb{train_rounds} c
),
enc AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
    ) AS arn FROM cd
  ) WHERE arn = 1
),
qtab AS MATERIALIZED (
  SELECT vec_id AS query_id, m, code, d2 FROM cd WHERE vec_id IN ({in_list})
),
adc AS (
  SELECT t.query_id, e.vec_id AS neighbor_id, CAST(sum(t.d2) AS BIGINT) AS adist
  FROM enc e JOIN qtab t ON e.m = t.m AND e.code = t.code
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM adc
QUALIFY rank <= {k}
"""


def _lsh_probes(q_mat, hs, n_probe: int):
    """(n_tables, |Q|, ≤ n_probe) multi-probe bucket sets: per table, each
    query's base bucket plus the ``n_probe − 1`` single-bit flips with the
    smallest margin |q · h_p| (stable argsort: ties → lower plane) — the
    planes the query sits closest to, i.e. the neighboring buckets most
    likely to hold near neighbors the base bucket missed (Lv et al.,
    multi-probe LSH, VLDB'07)."""
    import numpy as np

    out = []
    for h in hs:
        sums, base = _lsh_sums(q_mat, h)
        flip = np.argsort(np.abs(sums), axis=1, kind="stable")[:, : max(n_probe - 1, 0)]
        out.append(np.concatenate([base[:, None], base[:, None] ^ (1 << flip)], axis=1))
    return np.stack(out)


def _lsh_candidates(v, batch, q_mat, index):
    """Pair each batch row with every query that probes its bucket in ANY
    table (each pair once), keyed by the exact dot."""
    import numpy as np

    hs, probes = index
    buckets = _lsh_buckets(v, hs)
    hit = np.zeros((len(q_mat), len(v)), dtype=bool)
    for t, probe in enumerate(probes):
        hit |= (buckets[None, None, :, t] == probe[:, :, None]).any(axis=1)
    qpos, row = np.nonzero(hit)
    return qpos, row, _row_dots(v[row], q_mat[qpos])


def lsh_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    planes: int | None = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_mode: str = "xxhash64",
    n_probe: int = 4,
    n_tables: int | None = None,
    n_vectors: int | None = None,
    n_passes: int | None = None,
) -> DataFrame:
    """Bucketed ANN: exact ranking restricted to the query's LSH bucket(s).

    Per query only the rows sharing one of its buckets are scored
    (~corpus·n_probe·L/2^planes); recall is tunable via ``planes`` and
    ``n_probe`` — with ``n_probe > 1`` each query also probes the buckets
    reached by flipping its smallest-margin hyperplane bits
    (:func:`_lsh_probes`), the standard multi-probe trade: probe count buys
    recall without re-hashing the corpus; ``n_tables`` adds L independent
    hyperplane sets (OR-amplification, recall 1-(1-p)^L) at L× signing
    cost.  Plan shape: :func:`_ann_topk` — the query rows are signed
    driver-side with the same ±1 tables as the corpus
    (:func:`hyperplane_matrix`), and the one corpus pass signs each Arrow
    batch (one int64 GEMM per table) and scores its rows in any probed
    bucket with the exact integer dot.

    By default (``planes=None``/``n_tables=None``) the shape AUTO-SIZES to
    the corpus like :func:`lsh_neardup_pairs`: planes from
    :func:`lsh_auto_shape`'s 512-row bucket budget (floor 4), and
    ``n_tables = ⌈2·L_pairs / n_probe⌉`` capped at 16 — multi-probe buys
    tables at the measured ~n_probe/2 exchange rate (RECALL.md: planes=4
    n_probe=4 L=8 and n_probe=2 L=16 both hit recall@10 = 1.00, so at
    small n the auto rule reproduces the measured production shape
    (4, probe 4, L 8) exactly — the x06 gate pins that shape explicitly).
    Above ~8k vectors planes grows with log₂(n), so per-query candidate
    volume stays ~n_probe·L·budget instead of n_probe·L·n/16.  Cheaper
    shapes (e.g. the single-table planes=6 n_probe=1 L=1 minimum, recall
    0.08) remain available explicitly when candidate volume must be
    minimal.

    Output: (query_id, neighbor_id, dot_micro2, rank)."""
    if planes is None:
        # callers that already counted the corpus (e.g. hybrid_rrf_topk's
        # leg selector) pass n_vectors so the auto shape costs zero jobs
        # here.  max_passes=1: top-k does NOT run the multi-pass recovery
        # itself (see below), so the warning must model what actually runs
        planes = lsh_auto_shape(
            emb.count() if n_vectors is None else n_vectors,
            target_recall=0.95, bucket_budget=512,
            min_planes=4, max_tables=16, max_passes=1,
        )["planes"]
    if n_tables is None:
        import math

        l_pairs = lsh_tables_for(planes, 0.45, 0.95, max_tables=1 << 30)
        n_tables = max(1, min(16, math.ceil(2 * l_pairs / max(n_probe, 1))))
    if n_passes is not None and n_passes > 1:
        # shape-dict compatibility with lsh_neardup_pairs' recovery: for
        # top-k the candidate volume is QUERY-bounded (|Q|·n_probe·budget
        # per table), so extra passes fold into the one corpus pass as
        # extra tables — same seeds (global table index), same output as a
        # chunked run, no peak-shuffle concern to chunk around
        n_tables = n_tables * int(n_passes)

    def build(_, q_rows, q_mat):
        hs = _hyperplane_tables(emb.sparkSession, dims, planes, hash_mode, n_tables)
        return hs, _lsh_probes(q_mat, hs, n_probe)

    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _lsh_candidates, "dot_micro2", k,
        desc=True, build=build,
    )


def _np_int8(mat_micro):
    """Symmetric per-vector int8 quantization of a (n, dims) micro-int
    matrix: scale = max|component|, q = trunc(x·127/scale) ∈ [-127, 127].
    Trunc-toward-zero (sign·(|x|·127 // scale)) so the DuckDB twin's integer
    division (which truncates) reproduces every code exactly."""
    import numpy as np

    amax = np.abs(mat_micro).max(axis=1)
    safe = np.where(amax == 0, 1, amax)
    q = np.sign(mat_micro) * (np.abs(mat_micro) * 127 // safe[:, None])
    return q.astype(np.int64), amax.astype(np.int64)


def _int8_candidates(v, batch, q_mat, q_int8):
    """int64 GEMM on the int8 codes, rescaled to micro² as
    trunc(dot·scale_q·scale_v / 127²) — trunc-toward-zero to match SQL
    ``//``."""
    import numpy as np

    q8, q_amax = q_int8
    e8, e_amax = _np_int8(v)
    num = _gemm53(q8, e8.T) * q_amax[:, None] * e_amax[None, :]
    return _all_pairs(np.sign(num) * (np.abs(num) // (127 * 127)))


def int8_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ANN over int8-QUANTIZED vectors — the storage/IO scale lever
    that precedes any indexing: a 100 TB float32 embedding store shrinks 4×
    (16× vs the micro-int64 working form) with ~1% cosine error, so scans,
    shuffles, and cache working sets all shrink with it.  This operator is
    the exact-arithmetic model of that path: symmetric per-vector int8 codes
    (scale = max|component|), int64 GEMM on the codes, and the score
    rescaled back to micro² units as trunc(dot·scale_a·scale_b / 127²) — all
    integer, so the DuckDB oracle agrees bit-for-bit and the top-k is
    deterministic.

    Same physical shape as :func:`brute_force_topk` (broadcast query codes,
    per-partition GEMM, local top-k before the global window); composes with
    the LSH/IVF bucketing above when the corpus also needs candidate
    pruning.  Output: (query_id, neighbor_id, dot_rec_micro2, rank).
    """
    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _int8_candidates, "dot_rec_micro2", k,
        desc=True, build=lambda seed_rows, q_rows, q_mat: _np_int8(q_mat),
    )


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int | None = None,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    cell_budget: int = 512,
    assign: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): partition the embedding space with k-means cells,
    form near-duplicate pairs ONLY within a cell, resolve the pairs into
    duplicate groups, and keep ONE representative per group — the member
    FARTHEST from its cluster centroid (the paper's keep-low-centroid-
    similarity rule: the most peripheral example carries the most signal).

    Differs from :func:`lsh_neardup_pairs`-based dedup (x38) in both the
    bucketing geometry (learned k-means cells vs random hyperplanes — cells
    adapt to density, so semantically-close pairs are far less likely to be
    split across buckets) and the survivor rule (centroid-distance argmax
    vs min-id).

    Deterministic and oracle-checkable end-to-end: seeds are the
    ``n_clusters`` smallest-id vectors (cid = id rank), assignment is
    argmin exact integer squared distance with ties to the lower cid
    (``kmeans_fit``'s rule), pair score is the exact integer dot
    (cosine·1e12 on unit vectors), groups are min-label connected
    components, and the survivor is argmax centroid distance with ties to
    the lower id.

    Scale shape (100 TB): K AUTO-SCALES with the corpus (r11, VERDICT r10
    item 4) — ``n_clusters = max(8, ⌈n / cell_budget⌉)`` bounds the
    EXPECTED cell population at ``cell_budget``, so within-cell pair work
    is Σ|cell|² ≈ n·cell_budget, linear in n, never the N²/K a fixed K
    degrades to (the same cost rule as the LSH bucket budget; density
    skew concentrates cells exactly where near-dups live, which is the
    algorithm's point — the pair threshold prunes inside).  Assignment is
    one corpus pass against the broadcast K×dims centroid matrix: codegen
    expressions for small K, the same Arrow/numpy GEMM as ``kmeans_fit``'s
    assignment step once K outgrows an expression chain (``assign="auto"``
    routes at K > 16; both paths produce bit-identical integers, so the
    oracle is path-agnostic).  Pair generation shuffles on the cell id;
    group resolution is :func:`flockdb_spark.functions.dedup.
    resolve_duplicates`' iterative min-label propagation.

    Output: (vec_id, cluster, canonical_id, dist_micro2, kept) — one row
    per member of a duplicate group; ``kept`` = 1 for the group survivor.
    """
    assigned = semantic_assign(
        emb, n_clusters, id_col=id_col, vec_col=vec_col,
        n_vectors=n_vectors, cell_budget=cell_budget, assign=assign,
    )
    assigned = assigned.localCheckpoint(eager=False)  # reused by pairs AND survivors

    thr = int(threshold * MICRO * MICRO)
    a = assigned.select(
        F.col("vec_id").alias("a"), F.col("ev").alias("ev_a"), "cluster"
    )
    b = assigned.select(
        F.col("vec_id").alias("b"), F.col("ev").alias("ev_b"), "cluster"
    )
    pairs = (
        a.join(b, "cluster")
        .where(F.col("a") < F.col("b"))
        .where(dot_q(F.col("ev_a"), F.col("ev_b")) >= thr)
        .select("a", "b")
    )

    from .dedup import resolve_duplicates

    groups = resolve_duplicates(pairs).withColumnRenamed("doc_id", "vec_id")
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("dist_micro2"), F.asc("vec_id")
    )
    return (
        groups.join(assigned.select("vec_id", "cluster", "dist_micro2"), "vec_id")
        .select(
            "vec_id",
            "cluster",
            "canonical_id",
            "dist_micro2",
            F.when(F.row_number().over(w) == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


def semantic_assign(
    emb: DataFrame,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    cell_budget: int = 512,
    assign: str = "auto",
) -> DataFrame:
    """:func:`semantic_dedup`'s cell-assignment stage as a standalone
    operator: (vec_id, ev, cluster, dist_micro2) — deterministic seeds
    (the ``n_clusters`` smallest ids), exact-integer argmin distance with
    ties to the lower cid.  ``n_clusters=None`` auto-scales K to
    ``max(8, ⌈n / cell_budget⌉)``; ``assign`` routes between the codegen
    expression chain (small K) and the broadcast Arrow/numpy GEMM
    (K > 16) — both bit-identical.  tools/scaleproof.py reports this
    stage's cell distribution and Σ|cell|² per SF."""
    import numpy as np
    import pandas as pd

    if n_clusters is None:
        n = emb.count() if n_vectors is None else int(n_vectors)
        n_clusters = max(8, -(-n // cell_budget))

    seed_rows = (
        emb.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    )
    seed_rows.sort(key=lambda r: r[id_col])
    c_mat = _np_quantize(pd.Series([r[vec_col] for r in seed_rows]))

    use_gemm = assign == "gemm" or (assign == "auto" and c_mat.shape[0] > 16)
    if use_gemm:
        spark = emb.sparkSession
        bc = spark.sparkContext.broadcast(c_mat)

        def assign_cells(batches):
            import pyarrow as pa

            cmat = bc.value
            for batch in batches:
                n_rows = batch.num_rows
                if n_rows == 0:
                    continue
                ids = _i64_arrow(batch.column(0))
                v = _quantize_arrow(batch.column(1))
                # |x-c|^2 = |x|^2 + (|c|^2 - 2 x·c), all int64-exact; ties
                # -> lowest cid, the same rule as the expression path
                d = _cell_key(v, cmat, True)
                best = d.argmin(axis=1)
                yield pa.record_batch(
                    {
                        "vec_id": pa.array(ids),
                        "ev": _list_array(v),
                        "cluster": pa.array(best.astype(np.int32)),
                        "dist_micro2": pa.array(
                            (v * v).sum(axis=1) + d[np.arange(n_rows), best]
                        ),
                    }
                )

        assigned = emb.select(id_col, vec_col).mapInArrow(
            assign_cells, "vec_id long, ev array<long>, cluster int, dist_micro2 long"
        )
    else:
        ev = quantized(vec_col)
        dists = []
        for cid in range(c_mat.shape[0]):
            # one JVM-parsed literal array per centroid, not dims F.lit
            # round trips (r11 literal-construction rule)
            cvec = F.expr(
                "array(" + ",".join(f"{int(x)}L" for x in c_mat[cid]) + ")"
            )
            d = F.aggregate(
                F.zip_with(F.col("ev"), cvec, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            dists.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
        best = F.array_min(F.array(*dists))
        assigned = (
            emb.select(F.col(id_col).alias("vec_id"), ev.alias("ev"))
            .select(
                "vec_id",
                "ev",
                best["cid"].cast("int").alias("cluster"),
                best["d"].cast("long").alias("dist_micro2"),
            )
        )
    return assigned


def semantic_dedup_sql(
    n_clusters: int | None = 8,
    threshold: float = 0.45,
    dims: int = 64,
    where: str = "",
    cell_budget: int = 512,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` over ``embeddings`` — seeds,
    argmin assignment, within-cell pairs, recursive min-label reach, and
    the centroid-distance survivor window, all replayed in plain SQL.
    ``n_clusters=None`` mirrors the auto rule: K computed from count(*)
    INSIDE the query (x109's pattern), so one SQL string is valid at
    every scale factor."""
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    k_expr = (
        str(n_clusters)
        if n_clusters is not None
        else f"(SELECT greatest(8, (count(*) + {cell_budget} - 1) // {cell_budget}) FROM v)"
    )
    dist = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "i -> (ev[i] - cv[i]) * (ev[i] - cv[i])))"
    )
    thr = int(threshold * MICRO * MICRO)
    return f"""
WITH RECURSIVE v AS (SELECT vec_id, {quant} AS ev FROM embeddings {where}),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ev AS cv
  FROM v ORDER BY vec_id LIMIT {k_expr}
),
d AS (SELECT v.vec_id, s.cid, v.ev, {dist} AS dist FROM v CROSS JOIN seeds s),
asg AS (
  SELECT vec_id, cid AS cluster, ev, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d) WHERE rn = 1
),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE CAST(list_dot_product(x.ev, y.ev) AS BIGINT) >= {thr}
),
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(id, root) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, r.root FROM reach r JOIN und e ON e.src = r.id
),
grp AS (SELECT id AS vec_id, min(root) AS canonical_id FROM reach GROUP BY id)
SELECT g.vec_id, CAST(asg.cluster AS INTEGER) AS cluster, g.canonical_id,
       CAST(asg.dist AS BIGINT) AS dist_micro2,
       CAST(CASE WHEN row_number() OVER (
              PARTITION BY g.canonical_id
              ORDER BY asg.dist DESC, g.vec_id ASC) = 1
            THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM grp g JOIN asg ON asg.vec_id = g.vec_id
"""


def label_centroids(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label mean embedding — the centroid table a clustering / IVF /
    classifier-calibration stage trains from labeled vectors (the k-means
    "update" step as a standalone operator).

    Exact integer arithmetic: vectors quantize to micro units, per-dimension
    sums are long integers (order-independent), and the mean floors —
    bit-identical across engines and reduction orders, the same discipline
    as the rest of the vector family.

    Scale shape (100 TB): ``posexplode`` fans each vector into (label, dim)
    rows that aggregate with map-side combine — ONE shuffle whose key space
    is |labels|·|dims| (tiny), so the reduce side never sees raw vectors.
    Output: (label, dim, centroid_micro, n_vectors).
    """
    exploded = embeddings.select(
        "label", F.posexplode(quantized(vec_col)).alias("dim", "q")
    )
    return exploded.groupBy("label", "dim").agg(
        F.floor(F.sum("q") / F.count(F.lit(1))).cast("long").alias("centroid_micro"),
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
    )


def label_centroids_sql() -> str:
    """DuckDB twin of :func:`label_centroids` over ``embeddings``."""
    return """
WITH e AS (
  SELECT label,
         unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS q,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS centroid_micro,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM e GROUP BY label, dim
"""


def kmeans_fit(
    emb: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, exact integer arithmetic —
    the coarse-quantizer TRAINING step that ``ivf_ann_topk``'s docstring
    defers to production (its cells are seeded deterministically; this
    trains them).  Composes the proven pieces: the IVF family's coarse-cell
    rule (:func:`_cell_key`, argmin squared distance), with per-batch numpy
    partial sums whose reduce is the (cluster, dim) floor-mean —
    ``label_centroids``' update rule with the map-side combine made
    explicit.

    Deterministic and oracle-checkable: seeds are the ``n_clusters``
    smallest-id vectors (cid = id rank), assignment is argmin of the exact
    integer squared distance with ties to the lower cid, the update is the
    per-dimension floor-mean, and a cluster that captures no vectors drops
    out (both engines apply the same rule).

    Scale shape (100 TB): per iteration, ONE corpus pass (mapInPandas GEMM
    against the broadcast K×dims matrix) emitting K·dims partial-sum rows
    per Arrow batch, plus ONE tiny shuffle (key space |K|·|dims|) for the
    floor-mean reduce; the centroid matrix (K×dims ints) is the only
    driver-side state.  Output after ``n_iter``
    rounds: (cluster, dim, centroid_micro, n_vectors).
    """
    import numpy as np
    import pandas as pd

    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    spark = emb.sparkSession
    seed_rows = emb.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    order = np.argsort(np.array([r[id_col] for r in seed_rows], dtype=np.int64), kind="stable")
    c_mat = _np_quantize(pd.Series([r[vec_col] for r in seed_rows]))[order]
    c_ids = np.arange(len(order), dtype=np.int64)

    quant = emb.select(id_col, quantized(vec_col).alias("ev"))
    out_schema = "cluster long, dim int, centroid_micro long, n_vectors long"

    result = None
    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast((c_ids.copy(), c_mat.copy()))

        def partial_sums(batches):
            """Per-batch assignment + LOCAL per-cluster sums — the map-side
            combine done in numpy, so the shuffle carries K·dims rows per
            Arrow batch instead of one row per (vector, dim)."""
            import pyarrow as pa

            cids, cmat = bc.value
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                v = _quantize_arrow_prequantized(
                    batch.column(batch.schema.get_field_index("ev")), n
                )
                dims = v.shape[1]
                best = _cell_key(v, cmat, True).argmin(axis=1)
                uniq = np.unique(best)
                sums = np.stack([v[best == b].sum(axis=0) for b in uniq])
                cnts = np.array([(best == b).sum() for b in uniq], dtype=np.int64)
                yield pa.record_batch(
                    {
                        "cluster": np.repeat(cids[uniq], dims),
                        "dim": np.tile(np.arange(dims, dtype=np.int32), uniq.size),
                        "sum_q": sums.reshape(-1),
                        "cnt": np.repeat(cnts, dims),
                    }
                )

        update = (
            quant.mapInArrow(
                partial_sums, "cluster long, dim int, sum_q long, cnt long"
            )
            .groupBy("cluster", "dim")
            .agg(
                F.floor(F.sum("sum_q") / F.sum("cnt")).cast("long").alias("centroid_micro"),
                F.sum("cnt").cast("long").alias("n_vectors"),
            )
        )
        rows = update.collect()  # K×dims rows — bounded driver-side state
        bc.destroy()  # executor copies are stale the moment c_mat updates
        by_c: dict[int, dict[int, int]] = {}
        for r in rows:
            by_c.setdefault(r["cluster"], {})[r["dim"]] = r["centroid_micro"]
        live = sorted(by_c)
        dims = c_mat.shape[1]
        c_ids = np.array(live, dtype=np.int64)
        c_mat = np.array(
            [[by_c[c][d] for d in range(dims)] for c in live], dtype=np.int64
        )
        result = [
            (r["cluster"], r["dim"], r["centroid_micro"], r["n_vectors"]) for r in rows
        ]
    return spark.createDataFrame(result, out_schema).select(
        "cluster", "dim", "centroid_micro", "n_vectors"
    )


def embedding_outliers(
    embeddings: DataFrame,
    top_k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding outlier audit: the ``top_k`` vectors farthest
    from their own label's centroid — the mislabeled/noisy-vector sweep a
    labeled embedding corpus runs before training a classifier or seeding
    an IVF index on it (a vector far from its class centroid is either
    mislabeled, corrupt, or genuinely hard; all three deserve eyes).

    Exact integer arithmetic end-to-end: micro-quantized codes, integer
    squared distance to the floor-mean centroid (``label_centroids``' rule),
    ties broken on the lower vec_id.

    Scale shape (100 TB): the centroid table is |labels|·|dims| rows —
    broadcast; the fact side is the same posexplode fan-out as
    :func:`label_centroids` whose per-vector distance partials combine
    map-side (each vector's dims sit in one input row, so the (vec) partial
    sums complete before the shuffle); the per-label top-k is a window over
    |labels| partitions.  Two corpus passes total (one for centroids, one
    for distances) — the audit is as heavy as the training step it guards,
    no more.

    Output: (label, vec_id, dist_micro2, rank).
    """
    from pyspark.sql import Window

    cent = label_centroids(embeddings, vec_col).select(
        label_col, "dim", "centroid_micro"
    )
    fact = embeddings.select(
        F.col(id_col).alias("vec_id"),
        label_col,
        F.posexplode(quantized(vec_col)).alias("dim", "q"),
    )
    dist = (
        fact.join(F.broadcast(cent), [label_col, "dim"])
        .groupBy(label_col, "vec_id")
        .agg(
            F.sum(
                (F.col("q") - F.col("centroid_micro"))
                * (F.col("q") - F.col("centroid_micro"))
            )
            .cast("long")
            .alias("dist_micro2")
        )
    )
    w = Window.partitionBy(label_col).orderBy(F.desc("dist_micro2"), F.asc("vec_id"))
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select(label_col, "vec_id", "dist_micro2", "rank")
    )


def embedding_outliers_sql(top_k: int = 5) -> str:
    """DuckDB twin of :func:`embedding_outliers` over ``embeddings``."""
    return f"""
WITH e AS (
  SELECT vec_id, label,
         unnest(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS q,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
),
c AS (
  SELECT label, dim,
         CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS centroid_micro
  FROM e GROUP BY label, dim
),
d AS (
  SELECT e.label, e.vec_id,
         CAST(sum((e.q - c.centroid_micro) * (e.q - c.centroid_micro)) AS BIGINT)
           AS dist_micro2
  FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.label, e.vec_id
)
SELECT label, vec_id, dist_micro2,
       CAST(row_number() OVER (
         PARTITION BY label ORDER BY dist_micro2 DESC, vec_id ASC
       ) AS INTEGER) AS rank
FROM d QUALIFY rank <= {top_k}
"""


def _ivfpq_index(q_mat, c_mat, cw, n_probe: int, n_subspaces: int, sub: int, by_d2: bool):
    """The IVF-PQ scorer's broadcast state: each query's probe cells
    (:func:`_probe_cells`, so ``n_probe`` clamps to the cell count) and its
    per-(probed cell, subspace) ADC table over the query's residual,
    ``tab[q, p, m, c] = ||(q − c_cell)_m − cw_c,m||²`` — driver-bounded
    |Q|·n_probe·M·C int64s."""
    probe = _probe_cells(q_mat, c_mat, n_probe, by_d2)
    resid = (q_mat[:, None, :] - c_mat[probe]).reshape(-1, c_mat.shape[1])
    tables = _adc_tables(resid, cw, n_subspaces, sub).reshape(*probe.shape, n_subspaces, len(cw))
    return c_mat, cw, by_d2, probe, tables, sub


def _ivfpq_candidates(v, batch, q_mat, index):
    """Coarse-assign the batch (ties → lower cid), PQ-encode the residuals,
    and score each row against every query that probes its cell."""
    import numpy as np

    c_mat, cw, by_d2, probe, tables, sub = index
    cell = _cell_key(v, c_mat, by_d2).argmin(axis=1)
    codes = _pq_encode(v - c_mat[cell], cw, tables.shape[2], sub)
    qpos, p, row = np.nonzero(cell[None, None, :] == probe[:, :, None])
    m = np.arange(tables.shape[2])[None, :]
    return qpos, row, tables[qpos[:, None], p[:, None], m, codes[row]].sum(axis=1)


def ivfpq_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011's IVFADC): the coarse inverted file of
    ``ivf_ann_topk`` restricts each query to its ``n_probe`` nearest cells,
    and inside those cells candidates are ranked in the COMPRESSED domain —
    product-quantized RESIDUALS (vector − its cell centroid) scored by
    asymmetric distance against per-(query, probed-cell) lookup tables.

    This is the production 100 TB serving composition: the cell restriction
    cuts the candidate set to ~``n_probe/n_centroids`` of the corpus and the
    residual PQ codes (``n_subspaces`` bytes per vector) keep the candidate
    scan RAM-resident — scoring touches no raw vector at all.  Residuals are
    quantized against codebooks seeded from the residuals of the
    ``n_codes`` ids FOLLOWING the centroid seeds (the centroid ids' own
    residuals are ~0 — degenerate codewords), the same deterministic
    oracle-checkable seeding as ``ivf_ann_topk``/``pq_ann_topk``;
    production k-means-trains both levels, plumbing identical.

    Plan shape: one Arrow pass assigns cells, encodes residuals, and scores
    every query's probed cells from a driver-bounded broadcast
    (|Q|·n_probe·M·C int64 ADC tables), emitting only each batch's local
    top-k per query; the final window ranks ≤ k·partitions rows.  All
    arithmetic exact int64 on the micro grid (residual entries ≤ 2e6, so
    every sub-product stays ≪ 2^53) — the DuckDB twin (x115) replays every
    distance bit-for-bit.

    Output: (query_id, neighbor_id, adist, rank) — adist ASC, ties by
    neighbor_id; rank ≤ k, self excluded."""

    def build(seed_rows, q_rows, q_mat):
        (head,) = seed_rows
        if len(head) < n_centroids + n_codes:
            raise ValueError(
                f"ivfpq_ann_topk needs >= n_centroids + n_codes = "
                f"{n_centroids + n_codes} vectors to seed both quantization "
                f"levels; corpus has {len(head)}"
            )
        h_mat = _rows_matrix(head)[1]
        c_mat, seed_mat = h_mat[:n_centroids], h_mat[n_centroids:]
        # codebook = the seeds' residuals w.r.t. their own nearest cell
        # (dot DESC, cid ASC); code id == row index
        cw = seed_mat - c_mat[_cell_key(seed_mat, c_mat, False).argmin(axis=1)]
        return _ivfpq_index(q_mat, c_mat, cw, n_probe, n_subspaces, dims // n_subspaces, False)

    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _ivfpq_candidates, "adist", k,
        seeds=[emb.orderBy(id_col).limit(n_centroids + n_codes).select(id_col, vec_col)],
        build=build,
    )


def ivfpq_ann_sql(
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_ann_topk`: coarse assignment (dot DESC,
    cid ASC), residual codebooks from the ids following the centroid seeds,
    per-subspace argmin encoding of residuals, and the cell-keyed ADC join —
    every distance the same exact int64 on the micro grid.  Residual lists
    are built element-wise (``ev[i] − cv[i]``), so the subspace distances
    stay the plain 3-term ``r² + w² − 2rw`` form."""
    sub = dims // n_subspaces
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    in_list = ", ".join(str(int(i)) for i in query_ids)

    def d2(a: str, b: str, m: int) -> str:
        lo, hi = m * sub + 1, (m + 1) * sub
        sa, sb = f"list_slice({a}, {lo}, {hi})", f"list_slice({b}, {lo}, {hi})"
        return (
            f"CAST(list_dot_product({sa}, {sa}) + list_dot_product({sb}, {sb})"
            f" - 2 * list_dot_product({sa}, {sb}) AS BIGINT)"
        )

    cd_arms = "\n  UNION ALL\n".join(
        f"  SELECT c.neighbor_id, c.cell, {m} AS m, w.code,"
        f" {d2('c.rv', 'w.wv', m)} AS d2\n  FROM corpus c, cw w"
        for m in range(n_subspaces)
    )
    qt_arms = "\n  UNION ALL\n".join(
        f"  SELECT p.query_id, p.cell, {m} AS m, w.code,"
        f" {d2('p.qrv', 'w.wv', m)} AS d2\n  FROM probes p, cw w"
        for m in range(n_subspaces)
    )
    return f"""
WITH cents AS MATERIALIZED (
  SELECT vec_id AS cid, {quant} AS cv FROM embeddings
  ORDER BY vec_id LIMIT {n_centroids}
),
seeds AS MATERIALIZED (
  SELECT vec_id AS sid, {quant} AS sv FROM embeddings
  ORDER BY vec_id LIMIT {n_codes} OFFSET {n_centroids}
),
cw AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY sid) - 1 AS INTEGER) AS code,
         list_transform(range(1, {dims + 1}), i -> sv[i] - cv[i]) AS wv
  FROM (
    SELECT s.sid, s.sv, c.cv,
           row_number() OVER (
             PARTITION BY s.sid
             ORDER BY CAST(list_dot_product(s.sv, c.cv) AS BIGINT) DESC, c.cid ASC
           ) AS rn
    FROM seeds s, cents c
  ) WHERE rn = 1
),
v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
vcell AS MATERIALIZED (
  SELECT vec_id, cid, crn,
         list_transform(range(1, {dims + 1}), i -> ev[i] - cv[i]) AS rv
  FROM (
    SELECT v.vec_id, v.ev, c.cid, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(list_dot_product(v.ev, c.cv) AS BIGINT) DESC, c.cid ASC
           ) AS crn
    FROM v, cents c
  ) WHERE crn <= {n_probe}
),
probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cid AS cell, rv AS qrv FROM vcell
  WHERE vec_id IN ({in_list})
),
corpus AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, cid AS cell, rv FROM vcell
  WHERE crn = 1 AND cid IN (SELECT cell FROM probes)
),
cd AS MATERIALIZED (
{cd_arms}
),
enc AS MATERIALIZED (
  SELECT neighbor_id, cell, m, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY neighbor_id, m ORDER BY d2 ASC, code ASC
    ) AS arn FROM cd
  ) WHERE arn = 1
),
qtab AS MATERIALIZED (
{qt_arms}
),
adc AS (
  SELECT t.query_id, e.neighbor_id, CAST(sum(t.d2) AS BIGINT) AS adist
  FROM enc e JOIN qtab t ON e.cell = t.cell AND e.m = t.m AND e.code = t.code
  WHERE e.neighbor_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM adc
QUALIFY rank <= {k}
"""


def mmr_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_cand: int = 40,
    lam_num: int = 1,
    lam_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR 1998):
    take each query's ``k_cand`` brute-force nearest candidates, then pick
    ``k`` of them greedily by
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` — relevance traded
    against redundancy, the standard diversity stage of a retrieval /
    training-data-curation pipeline (e.g. sampling diverse exemplars
    instead of k near-identical ones).

    λ is the exact rational ``lam_num/lam_den`` and every score is int64 on
    the micro grid (rel and sim are micro² dots), so selection is
    bit-reproducible: the first pick maximizes ``lam_num·rel`` (empty
    selected set ⇒ no penalty term), later picks maximize
    ``lam_num·rel − (lam_den−lam_num)·max_sim``; all ties fall to the
    lower neighbor_id.

    Scale shape: the candidate stage is ``brute_force_topk`` (one GEMM pass,
    local top-k — swap in ``lsh_ann_topk``/``ivfpq_ann_topk`` past its
    crossover) with ``emit_vectors=True``, so candidate vectors ride out of
    the GEMM pass itself — ONE corpus pass total, no second scan and no
    broadcast re-gather join; the greedy loop runs per query group over
    ≤ k_cand rows (Arrow-batched, k_cand² integer GEMM per query — bounded,
    never corpus-sized) and reuses the ranking window's query_id
    partitioning, so the whole query costs a single exchange (guide §2.4).

    Output: (query_id, neighbor_id, rel_micro2, mmr_score, rank ≤ k)."""
    import numpy as np

    qids = [int(i) for i in query_ids]
    if not 0 < lam_num <= lam_den:
        raise ValueError(f"need 0 < lam_num <= lam_den, got {lam_num}/{lam_den}")
    pen = lam_den - lam_num
    withv = brute_force_topk(
        emb, qids, k=k_cand, id_col=id_col, vec_col=vec_col, emit_vectors=True
    ).select("query_id", "neighbor_id", "dot_micro2", "nv")

    def select_mmr(pdf):
        import pandas as pd

        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        rel = pdf["dot_micro2"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["nv"].tolist(), dtype=np.int64)
        sims = _gemm53(mat, mat.T)
        picked: list[int] = []
        scores: list[int] = []
        avail = np.ones(len(ids), dtype=bool)
        for _ in range(min(k, len(ids))):
            if picked:
                sc = lam_num * rel - pen * sims[:, picked].max(axis=1)
            else:
                sc = lam_num * rel
            live = np.nonzero(avail)[0]
            best = live[np.lexsort((ids[live], -sc[live]))[0]]
            picked.append(int(best))
            avail[best] = False
            scores.append(int(sc[best]))
        return pd.DataFrame(
            {
                "query_id": np.full(len(picked), int(pdf["query_id"].iloc[0]), dtype=np.int64),
                "neighbor_id": ids[picked],
                "rel_micro2": rel[picked],
                "mmr_score": np.array(scores, dtype=np.int64),
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
            }
        )

    return withv.groupBy("query_id").applyInPandas(
        select_mmr,
        "query_id long, neighbor_id long, rel_micro2 long, mmr_score long, rank int",
    )


def mmr_rerank_sql(
    query_ids: list[int],
    k: int = 10,
    k_cand: int = 40,
    lam_num: int = 1,
    lam_den: int = 2,
) -> str:
    """DuckDB twin of :func:`mmr_rerank_topk`: the greedy selection unrolled
    into ``k`` MATERIALIZED rounds — round 1 is argmax ``lam_num·rel``;
    round i joins the remaining candidates to the i−1 picks through the
    pairwise-sim table and takes argmax of the penalized score, ties to the
    lower neighbor_id — replaying the Spark loop pick for pick."""
    if k < 1:
        raise ValueError(f"mmr_rerank_sql: k must be >= 1, got {k}")
    pen = lam_den - lam_num
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    in_list = ", ".join(str(int(i)) for i in query_ids)
    rounds = []
    for i in range(2, k + 1):
        rounds.append(f"""s{i} AS MATERIALIZED (
  SELECT query_id, nid, rel, mmr_score, {i} AS rank FROM (
    SELECT c.query_id, c.nid, c.rel,
           CAST({lam_num} * c.rel - {pen} * max(s.simv) AS BIGINT) AS mmr_score,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {lam_num} * c.rel - {pen} * max(s.simv) DESC, c.nid ASC
           ) AS rn
    FROM cand c
    JOIN sel{i - 1} p ON p.query_id = c.query_id
    JOIN sim s ON s.query_id = c.query_id AND s.a = c.nid AND s.b = p.nid
    WHERE NOT EXISTS (
      SELECT 1 FROM sel{i - 1} e WHERE e.query_id = c.query_id AND e.nid = c.nid
    )
    GROUP BY c.query_id, c.nid, c.rel
  ) WHERE rn = 1
),
sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})""")
    # k=1 has no greedy rounds — join conditionally so the WITH clause never
    # ends in a dangling comma (ADVICE r8)
    chain = (",\n" + ",\n".join(rounds)) if rounds else ""
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, {quant} AS qv FROM embeddings
  WHERE vec_id IN ({in_list})
),
v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
cand AS MATERIALIZED (
  SELECT query_id, nid, rel, ev FROM (
    SELECT query_id, nid, rel, ev,
           row_number() OVER (
             PARTITION BY query_id ORDER BY rel DESC, nid ASC
           ) AS rn
    FROM (
      SELECT q.query_id, v.vec_id AS nid,
             CAST(list_dot_product(q.qv, v.ev) AS BIGINT) AS rel, v.ev
      FROM q, v WHERE v.vec_id <> q.query_id
    )
  ) WHERE rn <= {k_cand}
),
sim AS MATERIALIZED (
  SELECT a.query_id, a.nid AS a, b.nid AS b,
         CAST(list_dot_product(a.ev, b.ev) AS BIGINT) AS simv
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.nid <> b.nid
),
s1 AS MATERIALIZED (
  SELECT query_id, nid, rel, CAST({lam_num} * rel AS BIGINT) AS mmr_score,
         1 AS rank
  FROM (
    SELECT query_id, nid, rel,
           row_number() OVER (
             PARTITION BY query_id ORDER BY rel DESC, nid ASC
           ) AS rn
    FROM cand
  ) WHERE rn = 1
),
sel1 AS (SELECT * FROM s1){chain}
SELECT query_id, nid AS neighbor_id, rel AS rel_micro2, mmr_score,
       CAST(rank AS INTEGER) AS rank
FROM sel{k}
"""


def top_pc_projection(
    emb: DataFrame,
    rounds: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Projection of every vector onto the corpus's dominant principal
    component, found by deterministic power iteration — the
    "all-but-the-top" embedding post-processing step (Mu & Viswanath 2018:
    retrieval embeddings improve when the top PC, which encodes corpus-wide
    bias, is measured and removed).

    Exactness contract: vectors quantize to the MILLI grid (so the centered
    Gram's int64/float64 bounds hold), the mean is the per-dim floor mean,
    and the centered Gram comes from the one-pass expansion
    ``Σ(x−μ)(x−μ)ᵀ = Σxxᵀ − μ(Σx)ᵀ − (Σx)μᵀ + nμμᵀ`` — exact for ANY fixed
    μ, so mean and Gram need ONE corpus pass, not two.  Power iteration
    runs on the driver over the collected 64×64 Gram in arbitrary-precision
    Python ints (v₀ = 1000·𝟙; per round u = G·v then v' = sign(u)·(|u|·10⁶
    div max|u|), so trunc ≡ floor and DuckDB's HUGEINT replays every round
    bit-for-bit).  The projection pass is JVM-side (zip_with/aggregate over
    a broadcast 64-int literal) — no Python in either corpus pass.

    Scale shape (100 TB): pass 1 is a mapInArrow partial-GEMM per batch
    (64×64 + 64 + 1 rows emitted per batch) reduced by a 4000-row groupBy —
    decimal(38,0) accumulation so a 10¹² -vector corpus cannot overflow the
    int64 partials' sum; the driver state is one 64×64 matrix regardless of
    corpus size; pass 2 is embarrassingly parallel.  Two passes is the
    algorithm's true dataflow (the Gram must close before projection).

    Convergence honesty: power iteration closes the ANGLE to the top
    eigenvector at rate (λ₂/λ₁)^rounds — on spectra where the top
    eigenvalues cluster (e.g. the synthetic fixture's per-cluster PCs,
    λ₁/λ₂ ≈ 1.07) 8 rounds reach only ~0.36 |cos|, yet the returned
    direction already captures ≥ 90% of the top-PC VARIANCE (Rayleigh
    quotient — the metric that matters for variance removal; the test
    pins both, plus exact angle convergence on a spiked spectrum).  Raise
    ``rounds`` when the application needs the eigenvector itself rather
    than a near-top-variance direction; every round is exact in both
    engines at any count.

    Output: (vec_id, proj) — proj = Σ_d (x_d − μ_d)·v_d, int64."""
    import numpy as np

    def partials(batches):
        import pyarrow as pa

        # accumulate across the task's batches, emit ONE partial per task
        # (r12): a 128 MB scan partition is dozens of Arrow batches, so the
        # per-batch emit multiplied the aggregation input ~50× for nothing.
        # Exactness: per-row |Σ_b x_i·x_j| ≤ 4e6, so the int64 task
        # accumulator is exact up to ~2.3e12 rows per task — far past any
        # real task size; the cross-task sum still rides decimal(38,0).
        g_acc = np.zeros((dims, dims), dtype=np.int64)
        sx_acc = np.zeros(dims, dtype=np.int64)
        n_acc = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            arr = batch.column(0)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            m = flat * 1000.0
            x = ((np.trunc(np.abs(m) + 0.5) * np.sign(m)).astype(np.int64)).reshape(
                batch.num_rows, -1
            )
            g_acc += _gemm53(x.T, x)  # (dims, dims) — exact: |x|≤~2e3, n_b≤~1e4
            sx_acc += x.sum(0)
            n_acc += batch.num_rows
        if n_acc == 0:
            return
        ii = np.repeat(np.arange(dims, dtype=np.int64), dims)
        jj = np.tile(np.arange(dims, dtype=np.int64), dims)
        yield pa.record_batch(
            {
                "i": np.r_[ii, np.arange(dims, dtype=np.int64), [-1]],
                "j": np.r_[jj, np.full(dims, -1, dtype=np.int64), [-1]],
                "p": np.r_[g_acc.reshape(-1), sx_acc, [np.int64(n_acc)]],
            }
        )

    stats = (
        # vec_col ONLY: the id column would otherwise ship through Arrow
        # into an opaque function that never reads it (guide §4.1 — Spark
        # cannot prune columns past mapInArrow; select first)
        emb.select(vec_col)
        .mapInArrow(partials, "i long, j long, p long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    sxx = {}
    sx = [0] * dims
    n = 0
    for r in stats:
        i, j, s = int(r["i"]), int(r["j"]), int(r["s"])
        if i == -1:
            n = s
        elif j == -1:
            sx[i] = s
        else:
            sxx[(i, j)] = s
    if n == 0:
        raise ValueError("top_pc_projection: empty corpus")
    mu = [s_ // n for s_ in sx]  # python // == floor — matches the oracle
    # centered Gram from the one-pass expansion (exact python bigints)
    g = [
        [
            sxx[(i, j)] - mu[i] * sx[j] - mu[j] * sx[i] + n * mu[i] * mu[j]
            for j in range(dims)
        ]
        for i in range(dims)
    ]
    v = [1000] * dims
    for _ in range(rounds):
        u = [sum(g[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        m = max(abs(x) for x in u)
        if m == 0:
            v = [0] * dims
            break
        # sign(u)·(|u|·10⁶ div m): trunc ≡ floor on the |·| form, so python,
        # numpy and DuckDB agree on negatives
        v = [(1 if x >= 0 else -1) * (abs(x) * 1_000_000 // m) for x in u]

    q_milli = F.transform(
        F.col(vec_col), lambda c: F.round(c.cast("double") * 1000).cast("long")
    )
    # ONE F.expr per literal array (not one F.lit per element): 64
    # per-element Column constructions are py4j round trips of pure
    # driver latency per build — the same literal-construction rule as
    # hybrid_rrf_topk's term map (r11, guide §1.2 "per-task work" on the
    # driver side); a single SQL string parses JVM-side in one call.
    # Centering folds into a driver-side CONSTANT (r12):
    # (x − μ)·v = x·v − μ·v exactly in ℤ (distributivity; same int64
    # headroom class: per-term |x·v| ≤ 2e9, 64 dims → ≤ 1.3e11), so the
    # projection pass runs ONE zip_with/aggregate per row instead of two
    # full array transforms plus a μ literal.
    v_lit = F.expr("array(" + ",".join(f"{int(x)}L" for x in v) + ")")
    mu_dot_v = sum(mu[d] * v[d] for d in range(dims))
    proj = (
        F.aggregate(
            F.zip_with(q_milli, v_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        - F.lit(int(mu_dot_v)).cast("long")
    )
    return emb.select(F.col(id_col).alias("vec_id"), proj.alias("proj"))


def top_pc_projection_sql(rounds: int = 8, dims: int = 64) -> str:
    """DuckDB twin of :func:`top_pc_projection`: the same one-pass centered
    Gram (HUGEINT sums), the power-iteration rounds unrolled and
    MATERIALIZED, and the identical sign(u)·(|u|·10⁶ // max|u|)
    normalization — every round exact."""
    milli = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000)"
        " AS BIGINT))"
    )
    rcte = []
    for r in range(1, rounds + 1):
        rcte.append(f"""u{r} AS MATERIALIZED (
  SELECT gc.gi AS i, sum(gc.g * v.v) AS u
  FROM gc JOIN v{r - 1} v ON v.i = gc.gj GROUP BY gc.gi
),
v{r} AS MATERIALIZED (
  SELECT i, coalesce(
    (CASE WHEN u >= 0 THEN 1 ELSE -1 END)
      * ((abs(u) * 1000000) // NULLIF((SELECT max(abs(u)) FROM u{r}), 0)),
    0) AS v
  FROM u{r}
)""")
    chain = ",\n".join(rcte)
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(ev, 1) - 1 AS i, unnest(ev) AS x
  FROM (SELECT vec_id, {milli} AS ev FROM embeddings)
),
nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
sx AS MATERIALIZED (
  SELECT i, CAST(sum(x) AS HUGEINT) AS sx FROM e GROUP BY i
),
mu AS MATERIALIZED (
  -- exact floor division (// truncates toward zero on negatives)
  SELECT i, (sx - ((sx % nn.n + nn.n) % nn.n)) // nn.n AS mu
  FROM sx, nn
),
sxx AS MATERIALIZED (
  SELECT a.i AS gi, b.i AS gj, CAST(sum(a.x * b.x) AS HUGEINT) AS sxx
  FROM e a JOIN e b USING (vec_id) GROUP BY a.i, b.i
),
gc AS MATERIALIZED (
  SELECT gi, gj,
         sxx - mi.mu * sj.sx - mj.mu * si.sx + nn.n * mi.mu * mj.mu AS g
  FROM sxx
  JOIN mu mi ON mi.i = gi JOIN mu mj ON mj.i = gj
  JOIN sx si ON si.i = gi JOIN sx sj ON sj.i = gj
  CROSS JOIN nn
),
v0 AS (SELECT i, CAST(1000 AS HUGEINT) AS v FROM mu),
{chain}
SELECT e.vec_id, CAST(sum((e.x - mu.mu) * v{rounds}.v) AS BIGINT) AS proj
FROM e JOIN mu USING (i) JOIN v{rounds} ON v{rounds}.i = e.i
GROUP BY e.vec_id
"""


def ivfpq_trained_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    coarse_iter: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    train_rounds: int = 2,
    n_train: int = 256,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with BOTH quantization levels TRAINED — the production IVFADC
    recipe the untrained x115 composition measures the need for (RECALL.md:
    with untrained coarse cells, residuals have higher variance than the
    raw vectors and residual PQ loses to flat PQ; training the coarse
    level is what makes residuals small).

    Level 1: coarse cells from :func:`kmeans_fit` (``coarse_iter`` exact
    integer Lloyd rounds; assignment = argmin squared distance, ties to
    the lower cid — the k-means-consistent metric, used for training AND
    serving here, unlike x115's dot rule).  Level 2: residual codebooks
    seeded from the ``n_codes`` smallest ids' residuals and refined by
    ``train_rounds`` per-subspace Lloyd rounds over the ``n_train``
    smallest ids' residuals (integer floor means, argmin-ties-to-lower-
    code, empty cells keep their codeword — the x113 training contract).

    Everything is exact int64 on the micro grid and every training round
    is replayed by the oracle (x118), so the full two-level index build is
    value-gated, not just the serving pass.  Driver state stays bounded:
    K×dims centroids + n_train×dims sample + C×dims codebooks.

    Output: (query_id, neighbor_id, adist, rank) — x115's contract."""
    import numpy as np

    # level 1: trained coarse centroids (kmeans_fit runs the corpus passes;
    # its output is K×dims rows — bounded)
    cent_rows = kmeans_fit(
        emb, n_clusters=n_centroids, n_iter=coarse_iter, id_col=id_col, vec_col=vec_col
    ).collect()
    by_c: dict[int, dict[int, int]] = {}
    for r in cent_rows:
        by_c.setdefault(int(r["cluster"]), {})[int(r["dim"])] = int(r["centroid_micro"])
    c_ids = np.array(sorted(by_c), dtype=np.int64)
    c_mat = np.array(
        [[by_c[c][d] for d in range(dims)] for c in c_ids], dtype=np.int64
    )

    def build(seed_rows, q_rows, q_mat):
        # level 2: residual codebooks, Lloyd-refined on the n_train sample
        (t_rows,) = seed_rows
        if len(t_rows) < n_codes:
            raise ValueError(
                f"ivfpq_trained_ann_topk needs >= n_codes = {n_codes} vectors "
                f"to seed the residual codebooks; corpus has {len(t_rows)}"
            )
        tmat = _rows_matrix(t_rows)[1]
        tres = tmat - c_mat[_cell_key(tmat, c_mat, True).argmin(axis=1)]
        sub = dims // n_subspaces
        cw = _pq_train(tres[:n_train], tres[:n_codes], n_subspaces, sub, train_rounds)
        return _ivfpq_index(q_mat, c_mat, cw, n_probe, n_subspaces, sub, True)

    return _ann_topk(
        emb.select(id_col, vec_col), query_ids, _ivfpq_candidates, "adist", k,
        seeds=[emb.orderBy(id_col).limit(max(n_train, n_codes)).select(id_col, vec_col)],
        build=build,
    )


def ivfpq_trained_sql(
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    coarse_iter: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    train_rounds: int = 2,
    n_train: int = 256,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_trained_ann_topk`: the x69 k-means chain
    (``coarse_iter`` assign/floor-mean rounds), argmin-d2 cell assignment,
    the x113-style residual-codebook Lloyd rounds (MATERIALIZED), and the
    cell-keyed ADC join — every training round and every distance exact."""
    if coarse_iter != 2:
        raise NotImplementedError("the SQL twin unrolls exactly 2 coarse rounds")
    sub = dims // n_subspaces
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    in_list = ", ".join(str(int(i)) for i in query_ids)
    dist = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "i -> (ev[i] - cv[i]) * (ev[i] - cv[i])))"
    )
    sl = f"list_slice(t.trv, c.m * {sub} + 1, (c.m + 1) * {sub})"
    d2_train = (
        f"CAST(list_dot_product({sl}, {sl}) + list_dot_product(c.cw, c.cw)"
        f" - 2 * list_dot_product({sl}, c.cw) AS BIGINT)"
    )
    rounds = []
    for r in range(1, train_rounds + 1):
        rounds.append(f"""asg{r} AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT t.vec_id, c.m, c.code,
           row_number() OVER (
             PARTITION BY t.vec_id, c.m ORDER BY {d2_train} ASC, c.code ASC
           ) AS rn
    FROM train t CROSS JOIN cb{r - 1} c
  ) WHERE rn = 1
),
upd{r} AS MATERIALIZED (
  SELECT a.m, a.code, i.i,
         CAST(floor(CAST(sum(t.trv[a.m * {sub} + i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS val
  FROM asg{r} a JOIN train t USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {sub + 1})) AS i) i
  GROUP BY a.m, a.code, i.i
),
cb{r} AS MATERIALIZED (
  SELECT c.m, c.code, coalesce(u.cw, c.cw) AS cw
  FROM cb{r - 1} c LEFT JOIN (
    SELECT m, code, list(val ORDER BY i) AS cw FROM upd{r} GROUP BY m, code
  ) u USING (m, code)
)""")
    # train_rounds=0 serves straight from cb0 — join conditionally so the
    # WITH clause never carries a dangling comma (ADVICE r8)
    chain = (",\n".join(rounds) + ",\n") if rounds else ""
    slv = f"list_slice(x.rv, c.m * {sub} + 1, (c.m + 1) * {sub})"
    d2_body = (
        f"CAST(list_dot_product({slv}, {slv}) + list_dot_product(c.cw, c.cw)"
        f" - 2 * list_dot_product({slv}, c.cw) AS BIGINT)"
    )
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ev AS cv
  FROM v ORDER BY vec_id LIMIT {n_centroids}
),
a1 AS MATERIALIZED (
  SELECT vec_id, cid, ev FROM (
    SELECT v.vec_id, s.cid, v.ev,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dist.replace('cv[i]', 's.cv[i]').replace('ev[i]', 'v.ev[i]')} ASC, s.cid ASC) AS rn
    FROM v CROSS JOIN seeds s) WHERE rn = 1
),
c1 AS MATERIALIZED (
  SELECT cid, list(cm ORDER BY dim) AS cv FROM (
    SELECT a1.cid, d.i AS dim,
           CAST(floor(CAST(sum(a1.ev[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cm
    FROM a1, range(1, {dims + 1}) AS d(i) GROUP BY a1.cid, d.i
  ) GROUP BY cid
),
a2 AS MATERIALIZED (
  SELECT vec_id, cid, ev FROM (
    SELECT v.vec_id, c.cid, v.ev,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dist.replace('cv[i]', 'c.cv[i]').replace('ev[i]', 'v.ev[i]')} ASC, c.cid ASC) AS rn
    FROM v CROSS JOIN c1 c) WHERE rn = 1
),
c2 AS MATERIALIZED (
  SELECT cid, list(cm ORDER BY dim) AS cv FROM (
    SELECT a2.cid, d.i AS dim,
           CAST(floor(CAST(sum(a2.ev[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cm
    FROM a2, range(1, {dims + 1}) AS d(i) GROUP BY a2.cid, d.i
  ) GROUP BY cid
),
vcell AS MATERIALIZED (
  SELECT vec_id, cid, crn,
         list_transform(range(1, {dims + 1}), i -> ev[i] - cv[i]) AS rv
  FROM (
    SELECT v.vec_id, v.ev, c.cid, c.cv,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dist.replace('cv[i]', 'c.cv[i]').replace('ev[i]', 'v.ev[i]')} ASC, c.cid ASC) AS crn
    FROM v CROSS JOIN c2 c
  ) WHERE crn <= {n_probe}
),
train AS MATERIALIZED (
  SELECT vec_id, rv AS trv FROM vcell WHERE crn = 1
  ORDER BY vec_id LIMIT {n_train}
),
cb0 AS MATERIALIZED (
  SELECT m.m, s.code, list_slice(s.rv, m.m * {sub} + 1, (m.m + 1) * {sub}) AS cw
  FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, rv
    FROM (SELECT vec_id, rv FROM vcell WHERE crn = 1 ORDER BY vec_id LIMIT {n_codes})
  ) s CROSS JOIN (SELECT unnest(range(0, {n_subspaces})) AS m) m
),
{chain}probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cid AS cell, rv FROM vcell
  WHERE vec_id IN ({in_list})
),
corpus AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, cid AS cell, rv FROM vcell
  WHERE crn = 1 AND cid IN (SELECT cell FROM probes)
),
cd AS MATERIALIZED (
  SELECT x.neighbor_id, x.cell, c.m, c.code, {d2_body} AS d2
  FROM corpus x CROSS JOIN cb{train_rounds} c
),
enc AS MATERIALIZED (
  SELECT neighbor_id, cell, m, code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY neighbor_id, m ORDER BY d2 ASC, code ASC
    ) AS arn FROM cd
  ) WHERE arn = 1
),
qtab AS MATERIALIZED (
  SELECT x.query_id, x.cell, c.m, c.code, {d2_body.replace('x.rv', 'x.rv')} AS d2
  FROM probes x CROSS JOIN cb{train_rounds} c
),
adc AS (
  SELECT t.query_id, e.neighbor_id, CAST(sum(t.d2) AS BIGINT) AS adist
  FROM enc e JOIN qtab t ON e.cell = t.cell AND e.m = t.m AND e.code = t.code
  WHERE e.neighbor_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM adc
QUALIFY rank <= {k}
"""


# --- binary sign-sketch ANN (x120) ----------------------------------------

#: JVM packing of a quantized embedding's SIGN BITS into one BIGINT: bit i is
#: set iff component i is >= 0 (zero counts as non-negative — both engines
#: apply the same rule).  Pure codegen expressions — the ingest-side sketch
#: build runs with zero Python, like the x119 streaming cell assignment.
_SIGN_PACK = (
    # slice to exactly dims components first: a vector LONGER than dims must
    # truncate (matching the SQL twin), not pad zip_with's sequence side with
    # null indices — shiftleft(1, null) is null and the OR-aggregate would
    # silently collapse the whole sketch to null
    "aggregate(zip_with(slice({col}, 1, {dims}), sequence(0, {dmax}),"
    " (x, i) -> IF(x >= 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
    " CAST(0 AS BIGINT), (a, b) -> a | b)"
)


def sign_sketch(quantized_col_name: str, dims: int = 64) -> F.Column:
    """Packed BIGINT of sign bits over an already-quantized array column
    (named, so the expression stays a plain codegen HOF chain)."""
    if dims > 64:
        raise ValueError(f"sign_sketch packs at most 64 dims, got {dims}")
    return F.expr(_SIGN_PACK.format(col=quantized_col_name, dims=dims, dmax=dims - 1))


def _rot_pack(col: str, dims: int, r: int) -> str:
    """JVM packing of rotation ``r``'s sign bits: rotation 0 is the identity
    hyperplane set (:data:`_SIGN_PACK`); rotation r ≥ 1 uses the 45° axis-
    pair diagonals sign(x_i ± x_{(i+o) mod dims}) with offset o = ⌈r/2⌉ and
    alternating sign — GENUINELY new hyperplanes (a coordinate permutation
    or sign flip would leave every pairwise Hamming distance unchanged and
    amplify nothing), still a pure codegen HOF chain with zero Python."""
    if r == 0:
        return _SIGN_PACK.format(col=col, dims=dims, dmax=dims - 1)
    o = (r + 1) // 2
    sgn = "+" if r % 2 == 1 else "-"
    base = f"slice({col}, 1, {dims})"
    shifted = f"concat(slice({col}, {o + 1}, {dims - o}), slice({col}, 1, {o}))"
    return (
        f"aggregate(zip_with(zip_with({base}, {shifted}, (x, y) -> x {sgn} y),"
        f" sequence(0, {dims - 1}),"
        " (v, i) -> IF(v >= 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, b) -> a | b)"
    )


def _hamming_candidates(v, batch, q_mat, q_sk):
    """Hamming distance of every (query, row) over the packed sketches in
    the batch's third column: xor tensor (|Q|, n, R+1), vectorized popcount,
    then the multi-table OR-amplification — a candidate ranks by its BEST
    sketch (min Hamming over rotations), so close pairs only need to look
    close under ONE hyperplane family."""
    import numpy as np

    n = batch.num_rows
    sk = batch.column(2).values.to_numpy(zero_copy_only=False).reshape(n, -1)
    x = np.bitwise_xor(q_sk[:, None, :], sk[None, :, :])
    bits = np.unpackbits(x.view(np.uint8), axis=2).reshape(*x.shape, 64)
    return _all_pairs(bits.sum(axis=3).min(axis=2).astype(np.int64))


def binary_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_cand: int = 100,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotations: int = 0,
) -> DataFrame:
    """Binary-quantization ANN: each vector compresses to its 64 SIGN BITS
    (one BIGINT — 64× smaller than the micro-int vector, 32× smaller than
    float32), candidates rank by HAMMING distance (one xor + popcount per
    pair instead of a 64-wide dot), and the ≤|Q|·k_cand winners get an
    EXACT integer-dot rerank — the x114 two-stage recipe with the cheapest
    possible prefilter.  This is Charikar's SimHash signature applied to
    the embedding itself with the identity hyperplanes (the coordinate
    axes): unit vectors close in cosine agree on most coordinate signs.

    Scale shape (100 TB): the sketch build is PURE JVM expressions over
    the corpus scan (zip_with/aggregate — zero Python at ingest, the
    x119 rule); the candidate scan streams each row's sketches through an
    Arrow popcount with per-batch local top-k_cand, so the shuffle after
    it carries ≤ k_cand·partitions rows per query; the exact dot of those
    local winners is computed in the same pass (:func:`_ann_topk`'s
    rerank) — no second corpus gather, no join.

    ``rotations=R`` adds R extra sketches per vector from the 45° axis-pair
    diagonal hyperplanes (see :func:`_rot_pack`) — the classic SimHash
    OR-amplification (the x52/x53 multi-table pattern): candidates rank by
    their minimum Hamming distance over the R+1 sketch families, so a true
    neighbor only needs to look close under one.  Costs 8·(R+1) bytes/row
    on the candidate scan instead of 8; the default R=0 keeps the
    single-sketch shape the x120 oracle replays bit-for-bit.

    Output: (query_id, neighbor_id, dot_micro2, rank) — the exact-dot
    contract shared by brute_force_topk / pq_rerank_topk."""
    import numpy as np

    qids = [int(i) for i in query_ids]
    packs = ", ".join(_rot_pack("_ev", dims, r) for r in range(rotations + 1))
    scan = emb.select(id_col, vec_col, quantized(vec_col).alias("_ev")).select(
        id_col, vec_col, F.expr(f"array({packs})").alias("sks")
    )

    def build(seed_rows, q_rows, q_mat):
        if len(q_rows) != len(qids):
            raise ValueError(
                f"binary_ann_topk: {len(qids) - len(q_rows)} query ids missing "
                f"from the corpus (need every query in {id_col})"
            )
        return np.array([r[2] for r in q_rows], dtype=np.int64).reshape(len(qids), rotations + 1)

    return _ann_topk(scan, qids, _hamming_candidates, "hamming", k, rerank=k_cand, build=build)


def binary_ann_sql(
    query_ids: list[int], k: int = 10, k_cand: int = 100, dims: int = 64
) -> str:
    """DuckDB twin of :func:`binary_ann_topk`: replay the sign packing
    (bit 63 via the BIGINT min literal — ``1 << 63`` overflows DuckDB's
    checked shift; summing DISTINCT powers of two equals the bitwise OR),
    the xor/popcount Hamming ranking (ties → lower neighbor_id), and the
    exact-dot rerank, bit-for-bit."""
    if dims != 64:
        raise NotImplementedError("the SQL twin packs exactly 64 dims")
    quant = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"
    in_list = ", ".join(str(int(i)) for i in query_ids)
    pack = (
        "CAST(list_sum(list_transform(range(1, 65), i -> "
        "CASE WHEN ev[i] >= 0 THEN "
        "(CASE WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE (CAST(1 AS BIGINT) << (i - 1)) END) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, {quant} AS ev FROM embeddings),
sk AS MATERIALIZED (SELECT vec_id, ev, {pack} AS sk FROM v),
q AS (SELECT vec_id AS query_id, ev AS qv, sk AS qsk FROM sk
      WHERE vec_id IN ({in_list})),
cand AS MATERIALIZED (
  SELECT query_id, vec_id AS neighbor_id, qv, ev FROM (
    SELECT q.query_id, s.vec_id, q.qv, s.ev,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY bit_count(xor(s.sk, q.qsk)) ASC, s.vec_id ASC
           ) AS crn
    FROM sk s CROSS JOIN q WHERE s.vec_id <> q.query_id
  ) WHERE crn <= {k_cand}
)
SELECT query_id, neighbor_id,
       CAST(list_dot_product(qv, ev) AS BIGINT) AS dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY CAST(list_dot_product(qv, ev) AS BIGINT) DESC,
                                        neighbor_id ASC
       ) AS INTEGER) AS rank
FROM cand
QUALIFY rank <= {k}
"""
