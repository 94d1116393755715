"""LLM-data-pipeline extension queries (x-series) — dedup, similarity search,
text analysis, multimodal plumbing, graph analytics.

Beyond the reference's own operator surface (SURVEY.md §2.d notes these have
no FlockDB counterpart); designed for 100 TB corpora: hash-groupBy exact
dedup, shingle-bucket Jaccard, MinHash-LSH banding, quantized-integer vector
math (exact + order-independent on any engine), integer PageRank.

Queries using xxhash64 (minhash/simhash/LSH) have no DuckDB twin — the driver
records the weaker rows-only check for them; everything else hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import (
    analytics, curation, dedup, multimodal, packing, relevance, similarity,
    splits, stats, text,
)
from . import tsutil
from .operators.classes import hold
from .queries import ORACLES, query, store_for
from .sources.edges import _read, parquet_nrows, with_fixture_ctes
from .sources.layout import zorder_key_sql

ANN_QUERY_IDS = [0, 1, 2, 3, 4]

# words → trigram list, shared by the jaccard oracle
_W = "string_split(text, ' ')"
_TRIGRAMS = (
    f"list_transform(range(1, length({_W}) - 1), "
    f"i -> concat_ws(' ', {_W}[i], {_W}[i+1], {_W}[i+2]))"
)


def _docs_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)


# ---------------------------------------------------------------------------
# x01 — exact dedup: hash-groupBy on content
# ---------------------------------------------------------------------------

@query(
    "x01_dedup_exact",
    """
SELECT min(doc_id) AS kept_doc_id, CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text
""",
)
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x02 — exact word-trigram Jaccard near-dup pairs (shingle-bucket join)
# ---------------------------------------------------------------------------

@query(
    "x02_ngram_jaccard",
    f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM sub
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a, b, n_inter, sa.n_sh + sb.n_sh - n_inter AS n_union,
       (n_inter * 1000000) // (sa.n_sh + sb.n_sh - n_inter) AS jaccard_micro
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE (n_inter * 1000000) // (sa.n_sh + sb.n_sh - n_inter) >= 20000
""",
)
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs_subset(spark, sf_dir), threshold=0.02)


# ---------------------------------------------------------------------------
# x17 — duplicate-cluster resolution: near-dup pairs → connected components →
# canonical survivor per cluster.  Spark: iterative min-label propagation;
# oracle: recursive-CTE transitive closure over the SAME pair set.
# ---------------------------------------------------------------------------

@query(
    "x17_dedup_resolve",
    f"""
WITH RECURSIVE sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM sub
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT a, b FROM inter
  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE (n_inter * 1000000) // (sa.n_sh + sb.n_sh - n_inter) >= 20000
),
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(id, root) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, r.root FROM reach r JOIN und e ON e.src = r.id
)
SELECT id AS doc_id, min(root) AS canonical_id FROM reach GROUP BY id
""",
)
def x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(_docs_subset(spark, sf_dir), threshold=0.02)
    return dedup.resolve_duplicates(pairs.select("a", "b"))


# ---------------------------------------------------------------------------
# x03/x04/x16 — MinHash-LSH candidates + SimHash signatures/near-dup.
# Registered in PORTABLE hash mode (text.portable_hash family) so the DuckDB
# oracle checks the ENTIRE pipeline — shingling, signatures, banding, bucket
# join, estimates — value-for-value.  The production xxhash64 mode shares
# every line of structure (hash_mode is the only switch) and keeps its
# planted-duplicate recall tests in tests/test_functions.py.
# ---------------------------------------------------------------------------

_NH, _BANDS = 32, 8  # 8 bands × 4 rows


def _planted_corpus_sql(drop_words: int) -> str:
    """CTEs for the planted-near-duplicate corpus: the doc_id%10 subset plus
    every doc_id%50==0 doc re-entered under doc_id+10M with its last
    ``drop_words`` words dropped (mirrors the Spark fixture)."""
    return f"""
sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
wsub AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sub),
planted AS (
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(list_slice(ws, 1, greatest(length(ws) - {drop_words}, 1)), ' ') AS text
  FROM wsub WHERE doc_id % 50 = 0
),
corpus AS (SELECT doc_id, text FROM sub UNION ALL SELECT doc_id, text FROM planted)
""".strip()


def _planted_corpus(spark: SparkSession, sf_dir: str, drop_words: int) -> DataFrame:
    sub = _docs_subset(spark, sf_dir).select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    planted = sub.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(w, 1, F.greatest(F.size(w) - drop_words, F.lit(1)))
        ).alias("text"),
    )
    return sub.unionByName(planted)


def _minhash_lsh_oracle_sql() -> str:
    rows = _NH // _BANDS
    fp = text.portable_hash_sql("shingle")
    hs = ", ".join(f"min({dedup.uh_sql('f', i)}) AS h{i}" for i in range(_NH))
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('|', "
        + ", ".join(f"h{bi * rows + r}" for r in range(rows))
        + ") AS bucket FROM sig"
        for bi in range(_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_NH)
    )
    return f"""
WITH {_planted_corpus_sql(2)},
sh AS (SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM corpus),
fp AS (SELECT doc_id, {fp} AS f FROM sh),
sig AS (SELECT doc_id, {hs} FROM fp GROUP BY doc_id),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT a, b, ({matches}) AS m
  FROM cand JOIN sig sa ON sa.doc_id = cand.a JOIN sig sb ON sb.doc_id = cand.b
)
SELECT a, b, CAST(m AS BIGINT) AS n_matches,
       CAST((m * 1000000) // {_NH} AS BIGINT) AS est_jaccard_micro
FROM est
"""


@query("x03_minhash_lsh", _minhash_lsh_oracle_sql())
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicate fixture: every doc_id%50==0 doc re-enters with its
    last two words dropped (j≈0.9) under doc_id+10M.  LSH at 8 bands × 4
    rows recovers exactly those pairs (catch p≈0.9⁴ per band → >99.99% over
    8 bands) while the natural j<0.1 pairs stay out; the oracle re-derives
    the same signatures, buckets, and match counts in SQL."""
    corpus = _planted_corpus(spark, sf_dir, drop_words=2)
    sig = hold(dedup.minhash_signatures(
        corpus, num_hashes=_NH, hash_mode="portable"
    ).cache())
    pairs = dedup.minhash_lsh_candidates(
        corpus, num_hashes=_NH, bands=_BANDS, sig=sig, hash_mode="portable"
    )
    est = dedup.minhash_estimate_jaccard(corpus, pairs, num_hashes=_NH, sig=sig)
    return est.select("a", "b", "n_matches", "est_jaccard_micro")


_PH_FEATURE = (
    f"{text.portable_hash_sql('w_', 0)} + {text.portable_hash_sql('w_', 1)} * {dedup.PH_SHIFT}"
)


def _simhash_sig_sql(hashes_expr: str, bits: int = 48) -> str:
    """DuckDB twin of dedup.simhash's bit-vote signature over a feature-hash
    list expression (reference the staged column, it is evaluated once)."""
    terms = [
        f"(CASE WHEN list_sum(list_transform({hashes_expr}, x -> "
        f"CASE WHEN (x >> {p}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "x04_simhash",
    f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(list_distinct({_W}), w_ -> {_PH_FEATURE}) AS h
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id, CAST({_simhash_sig_sql('h')} AS BIGINT) AS simhash FROM hs
""",
)
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs_subset(spark, sf_dir), hash_mode="portable")


_X16_HAMMING = 8
_X16_CHUNKS = _X16_HAMMING + 1
_X16_CHUNK_BITS = 48 // _X16_CHUNKS  # 5 bits per chunk, mask 31


def _simhash_neardup_oracle_sql() -> str:
    w = "string_split(text, ' ')"
    tri = (
        f"list_transform(range(1, length({w}) - 1), "
        f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2]))"
    )
    mask = (1 << _X16_CHUNK_BITS) - 1
    chunk_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {ci} AS chunk, "
        f"(simhash >> {ci * _X16_CHUNK_BITS}) & {mask} AS val FROM sig"
        for ci in range(_X16_CHUNKS)
    )
    return f"""
WITH {_planted_corpus_sql(1)},
hs AS (
  SELECT doc_id, list_transform(list_distinct({tri}), w_ -> {_PH_FEATURE}) AS h
  FROM corpus
),
sig AS (SELECT doc_id, CAST({_simhash_sig_sql('h')} AS BIGINT) AS simhash FROM hs),
banded AS ({chunk_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT a, b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {_X16_HAMMING}
"""


@query("x16_simhash_neardup", _simhash_neardup_oracle_sql())
def x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted fixture like x03 (last word dropped → a few flipped simhash
    bits); the Hamming-bucket join must recover those pairs within distance
    8 while unrelated docs (expected distance 24 ± 3.5 of 48 bits, ≥4.6σ
    away) stay out.  The oracle re-derives signatures, pigeonhole chunks,
    and popcounts in SQL."""
    sig = dedup.simhash(
        _planted_corpus(spark, sf_dir, drop_words=1), shingle_n=3, hash_mode="portable"
    )
    out = dedup.simhash_neardup_pairs(sig, max_hamming=_X16_HAMMING)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# x05 — brute-force cosine top-k (quantized-integer dot: engine-exact)
# ---------------------------------------------------------------------------

_QUANT = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000))"


@query(
    "x05_ann_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, {_QUANT} AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})
),
c AS (SELECT vec_id AS neighbor_id, {_QUANT} AS ev FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qv, ev) AS BIGINT) AS dot_micro2
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
""",
)
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, ANN_QUERY_IDS, k=10)


# ---------------------------------------------------------------------------
# x06 — LSH-bucketed ANN at the PRODUCTION DEFAULT shape (planes=4,
# n_probe=4, n_tables=8 — the RECALL.md-measured recall-1.0 parameter set
# that `lsh_ann_topk` now defaults to).  Portable hyperplane signs (parity
# of a multiplicative scramble) make every per-table bucket assignment, the
# multi-probe bucket set, the cross-table candidate union, and the ranking
# reproducible in the DuckDB oracle.  The cheap single-table shapes remain
# gated by x35 (planes=6, n_probe=4, L=1) and x52 (L=3, no probes).
# ---------------------------------------------------------------------------

_X06_PLANES = 6  # the explicit cheap shape, still gated via x35/x52


def _multi_sig_cte(planes: int, n_tables: int) -> str:
    """sig CTE: (vec_id, ev, tbl, bucket) for every (row, table)."""
    selects = [
        f"SELECT vec_id, ev, {t} AS tbl, "
        f"CAST({similarity.lsh_bucket_sql('ev', planes, 64, table=t)} AS BIGINT) AS bucket "
        "FROM v"
        for t in range(n_tables)
    ]
    return "sig AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


def _multiprobe_ctes(planes: int, n_probe: int, n_tables: int) -> str:
    """WITH-clause body (v, sig, qs, qb, probes, scored) of the multi-probe
    LSH ANN twin — shared by the standalone oracles (x06/x35/x52) and the
    x110 hybrid gate, whose dense leg reuses ``scored``."""
    qid_list = ", ".join(map(str, ANN_QUERY_IDS))
    qs_selects = []
    for t in range(n_tables):
        sums = ", ".join(
            similarity.lsh_plane_sign_sql("ev", t * planes + p, 64)
            for p in range(planes)
        )
        qs_selects.append(
            f"SELECT vec_id AS query_id, ev AS qv, {t} AS qtbl, [{sums}] AS ss "
            f"FROM v WHERE vec_id IN ({qid_list})"
        )
    qs = "\nUNION ALL\n".join(qs_selects)
    base = " + ".join(
        f"(CASE WHEN ss[{p + 1}] > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(planes)
    )
    return f"""v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
{_multi_sig_cte(planes, n_tables)},
qs AS (
{qs}
),
qb AS (
  SELECT query_id, qv, qtbl, CAST({base} AS BIGINT) AS base,
         list_sort(list_transform(range(0, {planes}), p -> abs(ss[p + 1]) * 64 + p)) AS keys
  FROM qs
),
probes AS (
  SELECT query_id, qv, qtbl,
         unnest(list_distinct(list_prepend(base,
           list_transform(list_slice(keys, 1, {n_probe - 1}),
                          k -> xor(base, CAST(1 AS BIGINT) << CAST(k % 64 AS INT)))
         ))) AS qbucket
  FROM qb
),
scored AS (
  SELECT DISTINCT query_id, s.vec_id AS neighbor_id,
         CAST(list_dot_product(qv, s.ev) AS BIGINT) AS dot_micro2
  FROM sig s JOIN probes p ON s.bucket = p.qbucket AND s.tbl = p.qtbl
  WHERE s.vec_id <> p.query_id
)"""


def _multiprobe_oracle_sql(planes: int, n_probe: int, n_tables: int) -> str:
    """DuckDB twin of ``lsh_ann_topk`` at (planes, n_probe, n_tables): the
    per-table portable bucket assignment (UNION ALL sig), each query's
    per-table margins → base bucket + the ``n_probe - 1`` smallest-|margin|
    bit flips, the cross-table candidate union (DISTINCT before ranking),
    and the exact rerank."""
    return f"""
WITH {_multiprobe_ctes(planes, n_probe, n_tables)}
SELECT query_id, neighbor_id, dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
"""


@query("x06_lsh_ann", _multiprobe_oracle_sql(4, 4, 8))
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    # explicit shape: the RECALL.md production point (planes=4, n_probe=4,
    # L=8, recall@10 = 1.00) — the same values the r7 auto-default rule
    # picks below ~8k vectors, pinned here so this oracle stays valid at
    # every sweep SF while the AUTO rule itself is gated by x109
    return similarity.lsh_ann_topk(
        emb, ANN_QUERY_IDS, k=10, planes=4, n_tables=8, hash_mode="portable",
    )


# ---------------------------------------------------------------------------
# x06b — IVF ANN: deterministic coarse quantizer (centroids = 16 smallest
# ids), probe the 4 nearest cells, exact rerank — fully oracle-checkable
# ---------------------------------------------------------------------------

@query(
    "x15_ivf_ann",
    f"""
WITH cents AS (
  SELECT vec_id AS cid, {_QUANT} AS cv FROM embeddings ORDER BY vec_id LIMIT 16
),
v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
ranked AS (
  SELECT v.vec_id, v.ev, cents.cid,
         CAST(row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CAST(list_dot_product(v.ev, cents.cv) AS BIGINT) DESC, cents.cid ASC
         ) AS INTEGER) AS crn
  FROM v, cents
),
corpus AS (SELECT vec_id AS neighbor_id, ev, cid AS cell FROM ranked WHERE crn = 1),
probes AS (
  SELECT vec_id AS query_id, ev AS qv, cid AS cell FROM ranked
  WHERE crn <= 4 AND vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})
),
rerank AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qv, ev) AS BIGINT) AS dot_micro2
  FROM corpus JOIN probes USING (cell)
  WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM rerank
QUALIFY rank <= 10
""",
)
def x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.ivf_ann_topk(emb, ANN_QUERY_IDS, k=10, n_centroids=16, n_probe=4)


# ---------------------------------------------------------------------------
# x07 — embedding-cosine near-duplicate pairs (exact quadratic baseline)
# ---------------------------------------------------------------------------

@query(
    "x07_embedding_neardup",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_micro2
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) >= 450000000000
""",
)
def x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs(emb, threshold=0.45)


# ---------------------------------------------------------------------------
# x18 — LSH-bucketed embedding near-dup pairs (beyond-broadcast scale twin
# of x07) at the PRODUCTION DEFAULT shape (planes=4, n_tables=16 — the
# RECALL.md pair-recall-0.97 parameter set `lsh_neardup_pairs` now defaults
# to).  Portable hyperplane signs → the oracle re-derives every table's
# buckets, the cross-table candidate union, and the exact rescored dots;
# precision remains exact by construction and tests pin the ⊆-of-exact
# relationship.  The cheap L=3 shape stays gated by x53.
# ---------------------------------------------------------------------------

_X18_PLANES = 4


@query(
    "x18_lsh_neardup",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
{{sig}}
SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.ev, b.ev) AS BIGINT) AS dot_micro2
FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.ev, b.ev) AS BIGINT) >= 450000000000
""".format(sig=_multi_sig_cte(_X18_PLANES, 16)),
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    # explicit shape: the RECALL.md production point (planes=4, L=16, pair
    # recall 0.97) — identical to what the r7 auto-default rule picks below
    # ~8k vectors, pinned here so this oracle stays valid at every sweep SF
    # while the AUTO rule itself is gated by x109
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.45, planes=4, n_tables=16, hash_mode="portable",
    )


# ---------------------------------------------------------------------------
# x19 — the composed training-data pipeline: language gate → quality gate →
# exact dedup → token budget.  Every stage is an operator proven above;
# this is the end-to-end shape a 100 TB corpus pass actually runs.
# ---------------------------------------------------------------------------

@query(
    "x19_pipeline",
    f"""
WITH hits AS (
  SELECT doc_id, text,
         length(list_filter({_W}, w -> w IN ('the','a','of','and','to'))) AS h_en,
         length({_W}) AS n_tokens
  FROM documents
),
langed AS (SELECT * FROM hits WHERE h_en >= 1),
quality AS (
  SELECT * FROM langed
  WHERE n_tokens BETWEEN 5 AND 10000
    AND length(list_distinct({_W})) * 1000000 // n_tokens >= 300000
),
deduped AS (
  SELECT min(doc_id) AS doc_id, any_value(n_tokens) AS n_tokens
  FROM quality GROUP BY text
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
FROM deduped
QUALIFY cum_tokens <= 20000
""",
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep docs that pass language + quality gates, drop exact duplicates,
    then take documents in doc_id order until a 20k-token budget is filled —
    the canonical corpus-construction pass, composed from x10/x08/x01's
    operators plus a running token total.

    The running total is packing.ordered_prefix_sum — contiguous id-range
    shards + broadcast base offsets — NOT a global unpartitioned window, so
    the budget cutoff scales like the rest of the pipeline."""
    from .functions import curation

    docs = _read(spark, sf_dir, "documents")
    return curation.curate(
        docs,
        gates=[curation.lang_gate(min_hits=1), curation.quality_gate()],
        finalize=[
            curation.exact_dedup_finalizer(),
            curation.token_budget_finalizer(budget=20_000),
        ],
    )


# ---------------------------------------------------------------------------
# x08 — quality features (integer micro-ratios — no float rounding hazards)
# ---------------------------------------------------------------------------

@query(
    "x08_quality",
    f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(length({_W}) AS BIGINT) AS n_tokens,
       CAST(length(list_distinct({_W})) AS BIGINT) AS n_distinct,
       ((length(text) - length({_W}) + 1) * 1000000) // length({_W}) AS avg_token_len_micro,
       (length(list_filter({_W}, w -> w IN ('the','a','of','and','to'))) * 1000000)
         // length({_W}) AS stop_ratio_micro
FROM documents
""",
)
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    w = text.tokens("text")
    stop = F.size(F.filter(w, lambda x: x.isin(*text.STOPWORDS)))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.expr("((length(text) - size(split(text, ' ')) + 1) * 1000000) div size(split(text, ' '))").alias("avg_token_len_micro"),
        (stop.cast("long") * 1_000_000 / F.size(w)).cast("long").alias("stop_ratio_micro"),
    )


# ---------------------------------------------------------------------------
# x09 — token counting (whitespace + BPE-ish estimator)
# ---------------------------------------------------------------------------

@query(
    "x09_token_count",
    f"""
SELECT doc_id,
       CAST(length({_W}) AS BIGINT) AS n_tokens,
       CAST(length({_W}) + list_sum(list_transform({_W},
         w -> CASE WHEN length(w) > 4 THEN (length(w) - 1) // 4 ELSE 0 END)) AS BIGINT) AS n_bpe_ish
FROM documents
""",
)
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.bpe_ish_token_count("text").cast("long").alias("n_bpe_ish"),
    )


# ---------------------------------------------------------------------------
# x10 — language-ID heuristic
# ---------------------------------------------------------------------------

@query(
    "x10_lang_id",
    f"""
WITH h AS (
  SELECT doc_id, lang AS labeled_lang,
         {text.lang_hits_sql("text", "en")} AS hits_en,
         {text.lang_hits_sql("text", "de")} AS hits_de,
         {text.lang_hits_sql("text", "es")} AS hits_es,
         {text.lang_hits_sql("text", "fr")} AS hits_fr
  FROM documents
)
SELECT *, CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
               WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
               WHEN hits_es >= hits_fr THEN 'es'
               ELSE 'fr' END AS pred_lang
FROM h
""",
)
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x11 — document fingerprint (polynomial rolling hash)
# ---------------------------------------------------------------------------

@query(
    "x11_fingerprint",
    f"""
SELECT doc_id, {text.FINGERPRINT_SQL.format(col="text")} AS fp
FROM documents
""",
)
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint_vectorized("text").alias("fp"))


# ---------------------------------------------------------------------------
# x12 — multimodal feature extraction (binary blobs → Arrow-batched
# mapInPandas with a stubbed decode; oracle mirrors the stub arithmetic)
# ---------------------------------------------------------------------------

@query(
    "x12_multimodal",
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST((strlen(text) % 64 + 1) * 16 AS BIGINT) AS width,
       CAST((strlen(text) % 48 + 1) * 16 AS BIGINT) AS height,
       CAST(strlen(text) % 7 + 1 AS BIGINT) AS frames
FROM documents
""",
)
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_blobs(_read(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


# ---------------------------------------------------------------------------
# x111 — REAL multimodal decode (VERDICT r6 item 7): synthesize valid PPM
# P6 images / WAV PCM16 files from each document's bytes (Arrow-batched),
# then PARSE the blobs back — header fields, dimensions, sample statistics
# — with the dependency-free codecs in multimodal.py.  The oracle
# recomputes every parsed feature in closed form over the source text
# (the blobs are deterministic functions of it), so the decode path gets a
# true value gate; unsupported formats still raise through real_decode.
# ---------------------------------------------------------------------------

@query("x111_media_decode", multimodal.media_decode_sql())
def x111(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: synth + decode FUSED into one Python pass — the blob is born and
    # parsed in the same worker, so the payload never crosses the Arrow
    # boundary (the r10 two-step shape shipped it 4×; guide §4).  Same
    # encode/decode byte paths, bit-identical output (tests assert equality
    # with decode_features_fast(synth_media(...)), which remains the
    # production shape for blobs already stored in parquet).
    return multimodal.synth_decode_features(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x20 — sessionization: gap-based event sessions per user.  Spark's native
# session_window (merging, state-friendly in streaming) vs the classic
# gaps-and-islands SQL — identical results, hash-checked.
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800


@query(
    "x20_sessionization",
    f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
),
marked AS (
  SELECT user_id, ts_s,
         -- STRICT >: Spark's session_window merges an event landing exactly
         -- at prev + gap (sessions merge when next_start <= prev_end); an
         -- event 1800s after the previous is the same session in both engines
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s)
                   > {_SESSION_GAP_S}
              OR lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, ts_s,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_s ROWS UNBOUNDED PRECEDING
         ) AS session_no
  FROM marked
)
SELECT user_id,
       min(ts_s) AS session_start,
       max(ts_s) + {_SESSION_GAP_S} AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, session_no
""",
)
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window: merges events closer than the gap into one
    session whose end = last event + gap — exactly the islands the SQL oracle
    derives.  In streaming the same expression runs stateful with watermark
    eviction; in batch it's one shuffle on (user, merged-window)."""
    events = _read(spark, sf_dir, "events")
    ts_s = tsutil.epoch_col(events, "ts", "s")
    return (
        events.select("user_id", F.timestamp_seconds(ts_s).alias("event_time"))
        .groupBy(F.session_window("event_time", f"{_SESSION_GAP_S} seconds"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_seconds(F.col("session_window.start")).alias("session_start"),
            F.unix_seconds(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# x21 — as-of join: for each part shipment, the most recent strictly-earlier
# price of the same part.  Spark: single-shuffle union/carry-forward sweep
# (operators/asof.py); oracle: DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------

@query(
    "x21_asof_join",
    """
WITH ship AS (
  SELECT l_partkey AS part,
         CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_s,
         CAST(max(l_extendedprice) * 100 AS BIGINT) AS price_c
  FROM lineitem WHERE l_partkey % 100 = 0
  GROUP BY 1, 2
)
SELECT l.part, l.ship_s, l.price_c,
       r.price_c AS prev_price_c, r.ship_s AS prev_ship_s
FROM ship l ASOF LEFT JOIN ship r
  ON l.part = r.part AND l.ship_s > r.ship_s
""",
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join
    from .sources.edges import _epoch_cols

    li = _read(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 100 == 0)
    ship_s, _ = _epoch_cols(li, "l_shipdate")
    ship = li.groupBy(
        F.col("l_partkey").alias("part"), ship_s.alias("ship_s")
    ).agg(
        # prices are DOUBLE in the parquet; round before the long cast (Spark
        # cast truncates, the DuckDB oracle's cast rounds)
        F.round(F.max("l_extendedprice") * 100).cast("long").alias("price_c")
    )
    return asof_join(
        ship,
        ship,
        on=["part"],
        left_time="ship_s",
        right_time="ship_s",
        payload=["price_c", "ship_s"],
        strict=True,
        prefix="prev_",
    ).select("part", "ship_s", "price_c", "prev_price_c", "prev_ship_s")


# ---------------------------------------------------------------------------
# x22 — range join: which of a customer's orders fall in the 30 days after
# another of their orders.  Spark: bin-decomposed equi-join (no nested-loop);
# oracle: plain inequality join.
# ---------------------------------------------------------------------------

_D30 = 30 * 86400


@query(
    "x22_range_join",
    f"""
WITH o AS (
  SELECT o_custkey AS cust, o_orderkey AS ok,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t
  FROM orders
)
SELECT i.cust, i.ok AS anchor_order, p.ok AS follow_order,
       p.t - i.t AS delta_s
FROM o i JOIN o p
  ON i.cust = p.cust AND p.t BETWEEN i.t AND i.t + {_D30} AND p.ok <> i.ok
""",
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rangejoin import point_in_interval_join
    from .sources.edges import _epoch_cols

    orders = _read(spark, sf_dir, "orders")
    t, _ = _epoch_cols(orders, "o_orderdate")
    o = orders.select(F.col("o_custkey").alias("cust"), F.col("o_orderkey").alias("ok"), t.alias("t"))
    points = o.select("cust", F.col("ok").alias("follow_order"), F.col("t").alias("pt"))
    intervals = o.select(
        "cust",
        F.col("ok").alias("anchor_order"),
        F.col("t").alias("t0"),
        (F.col("t") + F.lit(_D30)).alias("t1"),
    )
    joined = point_in_interval_join(
        points, intervals, on=["cust"], point_col="pt", start_col="t0", end_col="t1",
        bin_size=_D30,
    ).where(F.col("follow_order") != F.col("anchor_order"))
    return joined.select(
        "cust", "anchor_order", "follow_order", (F.col("pt") - F.col("t0")).alias("delta_s")
    )


# ---------------------------------------------------------------------------
# x23 — rollup/grouping-sets: edge counts by (graph, state) with subtotals —
# a scope-boundary extension the reference lacks outright (SURVEY §2.d) and
# Spark gives natively; plus hourly time-bucketed event rollups.
# ---------------------------------------------------------------------------

@query(
    "x23_rollup",
    with_fixture_ctes("""
SELECT coalesce(graph_id, -1) AS graph_id,
       coalesce(state, -1) AS state,
       CAST(count(*) AS BIGINT) AS n_edges
FROM edges
GROUP BY ROLLUP (graph_id, state)
"""),
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return (
        st.edges.rollup("graph_id", "state")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .select(
            F.coalesce(F.col("graph_id"), F.lit(-1)).alias("graph_id"),
            F.coalesce(F.col("state"), F.lit(-1)).alias("state"),
            "n_edges",
        )
    )


@query(
    "x24_event_rollup",
    """
SELECT user_id % 16 AS cohort,
       epoch_ms(ts) // 3600000 AS hour_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-bucketed rollup (the 'hypertable rollup' shape): integer
    epoch bucketing keeps it engine-portable; count(distinct) is Spark's
    two-phase exact distinct, partial-aggregated map-side."""
    events = _read(spark, sf_dir, "events")
    ev = events.select("user_id", tsutil.epoch_col(events, "ts", "ms").alias("ts_ms"))
    return ev.groupBy(
        F.pmod(F.col("user_id"), F.lit(16)).alias("cohort"),
        F.expr("ts_ms div 3600000").alias("hour_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# x13/x14 — graph analytics over the edge table
# ---------------------------------------------------------------------------

@query(
    "x13_degree_dist",
    with_fixture_ctes("""
SELECT out_degree, CAST(count(*) AS BIGINT) AS n_vertices
FROM (
  SELECT source_id, count(*) AS out_degree
  FROM edges WHERE graph_id = 1 AND state = 0 GROUP BY source_id
) d
GROUP BY out_degree
"""),
)
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return analytics.degree_distribution(st.edges, 1)


_PR_ITER = """
it{n} AS (
  SELECT n.node, CAST(150000000 + (coalesce(s.in_sum, 0) * 85) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.pr // d.out_deg) AS in_sum
    FROM it{p} p JOIN deg d ON p.node = d.src JOIN e ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)
""".strip()


@query(
    "x14_pagerank",
    with_fixture_ctes(
        """
SELECT node AS node_id, pr FROM it3
""",
        "e AS (SELECT source_id AS src, destination_id AS dst FROM edges WHERE graph_id = 3 AND state = 0)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src)",
        "it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM nodes)",
        _PR_ITER.format(n=1, p=0),
        _PR_ITER.format(n=2, p=1),
        _PR_ITER.format(n=3, p=2),
    ),
)
def x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return analytics.pagerank(st.edges, 3, iterations=3)


# ---------------------------------------------------------------------------
# x25 — BM25 relevance scoring (integer fixed-point; query terms = top-5
# corpus terms by document frequency).  One pass over the token table, all
# small sides broadcast (functions/relevance.py).
# ---------------------------------------------------------------------------

@query("x25_bm25", relevance.bm25_oracle_sql())
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.bm25_scores(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x26 — top-k per group: 3 longest documents per language (window
# row_number; partition-parallel, no global sort)
# ---------------------------------------------------------------------------

@query(
    "x26_topk_per_group",
    """
SELECT lang, doc_id, n_chars, rn FROM (
  SELECT lang, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rn
  FROM documents
) WHERE rn <= 3
""",
)
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "lang", "doc_id", "n_chars", F.row_number().over(w).cast("long").alias("rn")
    ).where(F.col("rn") <= 3)


# ---------------------------------------------------------------------------
# x27 — per-vertex triangle counts over the user-interaction graph
# (degree-ordered orientation, functions/analytics.triangle_counts)
# ---------------------------------------------------------------------------

@query(
    "x27_triangles",
    """
WITH und AS (
  SELECT DISTINCT least(a.user_id, b.user_id) AS u, greatest(a.user_id, b.user_id) AS v
  FROM events a JOIN events b ON b.event_id = a.event_id + 1
  WHERE a.user_id <> b.user_id
),
deg AS (SELECT n, count(*) AS d
        FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und) GROUP BY n),
orient AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS db
  FROM und JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v
),
tri AS (
  SELECT o1.a AS x, o1.b AS y, o2.b AS z
  FROM orient o1 JOIN orient o2
    ON o1.a = o2.a AND (o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b))
  WHERE EXISTS (SELECT 1 FROM orient o3 WHERE o3.a = o1.b AND o3.b = o2.b)
)
SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node_id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
GROUP BY node_id
""",
)
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.triangle_counts(
        analytics.interaction_pairs(_read(spark, sf_dir, "events"))
    )


# ---------------------------------------------------------------------------
# x28 — deterministic train/val/test split (80/10/10 by portable integer
# hash; functions/splits.py)
# ---------------------------------------------------------------------------

@query(
    "x28_train_split",
    f"""
SELECT doc_id,
       CAST({splits.split_bucket_sql("doc_id")} AS BIGINT) AS bucket,
       CASE WHEN {splits.split_bucket_sql("doc_id")} < 800 THEN 'train'
            WHEN {splits.split_bucket_sql("doc_id")} < 900 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.assign_splits(_read(spark, sf_dir, "documents")).select(
        "doc_id", "bucket", "split"
    )


# ---------------------------------------------------------------------------
# x29 — deterministic stratified sampling: rebalance the corpus by language
# (downsample dominant en, keep the tail) with content-deterministic bucket
# hashing; broadcast rates dim, zero fact-table shuffles (functions/splits.py)
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 400, "fr": 800}
_SAMPLE_DEFAULT = 950


@query(
    "x29_stratified_sample",
    splits.stratified_sample_sql(
        "documents", _SAMPLE_RATES, _SAMPLE_DEFAULT,
        select="doc_id, lang, CAST(bucket AS BIGINT) AS bucket",
    ),
)
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.stratified_sample(
        _read(spark, sf_dir, "documents"), _SAMPLE_RATES, _SAMPLE_DEFAULT
    ).select("doc_id", "lang", F.col("bucket").cast("long").alias("bucket"))


# ---------------------------------------------------------------------------
# x30 — grouped exact quantiles: per-language document-length distribution
# (dyadic quartiles ×4 are exact BIGINTs; functions/stats.py)
# ---------------------------------------------------------------------------

@query(
    "x30_length_quantiles",
    stats.grouped_quantiles_sql("documents", "lang", "n_chars"),
)
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.grouped_quantiles(
        _read(spark, sf_dir, "documents"), "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# x31 — per-user event time-series features: inter-arrival gap + trailing
# 3-event rolling spend, one shuffle / one sort (functions/stats.py)
# ---------------------------------------------------------------------------

@query("x31_event_features", stats.event_time_features_sql())
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.event_time_features(_read(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x32 — intra-document repetition quality gate: duplicated-token and
# duplicated-trigram per-mille + repetitive flag (functions/text.py)
# ---------------------------------------------------------------------------

@query("x32_repetition", text.repetition_features_sql())
def x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_features(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x33 — token-budget sequence packing: concat-and-chunk layout via sharded
# distributed prefix sum (functions/packing.py)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


@query("x33_seq_packing", packing.pack_sequences_sql(_PACK_BUDGET))
def x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_sequences(_read(spark, sf_dir, "documents"), _PACK_BUDGET)


# ---------------------------------------------------------------------------
# x34 — benchmark decontamination: per-doc count of word trigrams shared
# with the "eval set" (docs with doc_id % 97 == 0) + contaminated flag
# (functions/dedup.decontaminate; eval shingles broadcast)
# ---------------------------------------------------------------------------

@query(
    "x34_decontaminate",
    f"""
WITH ev AS (
  SELECT DISTINCT unnest(list_distinct({_TRIGRAMS})) AS shingle
  FROM documents WHERE doc_id % 97 = 0
),
tsh AS (
  SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle
  FROM documents WHERE doc_id % 97 <> 0
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
  FROM tsh JOIN ev USING (shingle) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_shingles,
       CAST(CASE WHEN coalesce(h.n, 0) >= 1 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hits h USING (doc_id)
""",
)
def x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.decontaminate(
        docs.where(F.col("doc_id") % 97 != 0), docs.where(F.col("doc_id") % 97 == 0)
    )


# ---------------------------------------------------------------------------
# x35 — multi-probe LSH ANN at the EXPLICIT CHEAP SHAPE (planes=6,
# n_probe=4, L=1): single-table probing, minimal candidate volume — kept as
# a gate so the cheap option a user opts into stays oracle-verified now
# that the defaults moved to the recall-1.0 shape (gated by x06).
# ---------------------------------------------------------------------------

_X35_NPROBE = 4


@query("x35_multiprobe_ann", _multiprobe_oracle_sql(_X06_PLANES, _X35_NPROBE, 1))
def x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb,
        ANN_QUERY_IDS,
        k=10,
        planes=_X06_PLANES,
        n_probe=_X35_NPROBE,
        n_tables=1,
        hash_mode="portable",
    )


# ---------------------------------------------------------------------------
# x36 — semi-structured property rollup: typed extraction out of the JSON
# props column + one-shuffle per-type aggregate (exact distinct users)
# ---------------------------------------------------------------------------

from .functions import semistructured  # noqa: E402 — grouped with its queries


@query("x36_json_rollup", semistructured.props_rollup_sql())
def x36(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semistructured.props_rollup(_read(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x37 — boilerplate n-gram coverage: the C4-style templated-content gate
# ---------------------------------------------------------------------------

@query("x37_boilerplate", text.boilerplate_coverage_sql(n=5, min_docs=3))
def x37(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.boilerplate_coverage(
        _read(spark, sf_dir, "documents"), n=5, min_docs=3
    )


# ---------------------------------------------------------------------------
# x38 — embedding near-dup CLUSTER resolution: LSH pairs (x18's operator at
# a recall-oriented threshold) → connected components → canonical survivor
# per cluster.  The end-to-end semantic-dedup decision a corpus pass ships.
# ---------------------------------------------------------------------------

_X38_THRESHOLD = 0.30


@query(
    "x38_embedding_dedup",
    # the closure oracle is RESTATED as the Spark algorithm itself (r8):
    # 20 unrolled hop+jump rounds, materialized, with a loud (-1,-1)
    # sentinel on non-convergence — dedup.resolve_duplicates_sql explains
    # why the recursive reach died on this graph at sf3.0 (1.9M pairs)
    f"""
WITH v AS MATERIALIZED (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
sig AS MATERIALIZED (
  SELECT vec_id, ev, CAST({{bucket}} AS BIGINT) AS bucket FROM v
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE CAST(list_dot_product(a.ev, b.ev) AS BIGINT) >= {int(_X38_THRESHOLD * 1_000_000_000_000)}
),
{{resolve_ctes}}
{{resolve_final}}
""".format(
        bucket=similarity.lsh_bucket_sql("ev", _X18_PLANES, 64),
        resolve_ctes=dedup.resolve_duplicates_sql(
            rounds=20, id_alias="vec_id", lab_alias="canonical_id"
        )[0],
        resolve_final=dedup.resolve_duplicates_sql(
            rounds=20, id_alias="vec_id", lab_alias="canonical_id"
        )[1],
    ),
)
def x38(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_neardup_pairs(
        # n_tables pinned to 1: this gate's oracle replays the single-table
        # bucket assignment (the recall-shape default is gated by x18)
        emb, threshold=_X38_THRESHOLD, planes=_X18_PLANES, hash_mode="portable",
        n_tables=1,
    )
    return dedup.resolve_duplicates(pairs.select("a", "b")).withColumnRenamed(
        "doc_id", "vec_id"
    )


# ---------------------------------------------------------------------------
# x39 — N-step ordered funnel over the event stream (view → click →
# purchase), one shuffle for all steps
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


@query("x39_funnel", analytics.funnel_sql(_FUNNEL_STEPS))
def x39(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.funnel(_read(spark, sf_dir, "events"), _FUNNEL_STEPS)


# ---------------------------------------------------------------------------
# x40 — data-mixing epoch upsampling: per-source integer epoch counts,
# map-side generator, no shuffle
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"src0": 3, "src1": 2, "src10": 4}


@query("x40_mixture_upsample", splits.mixture_upsample_sql(_MIX_WEIGHTS))
def x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.mixture_upsample(_read(spark, sf_dir, "documents"), _MIX_WEIGHTS)


# ---------------------------------------------------------------------------
# x41 — BPE-style vocabulary induction counting step: top-k adjacent token
# pairs via partial-agg + TakeOrderedAndProject (local k per partition)
# ---------------------------------------------------------------------------

@query("x41_bigram_vocab", text.bigram_stats_sql(k=50))
def x41(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_stats(_read(spark, sf_dir, "documents"), k=50)


# ---------------------------------------------------------------------------
# x42 — k-hop neighborhood expansion (frontier BFS with min-depth), the
# multi-hop generalization of the reference's 1-hop adjacency operators
# ---------------------------------------------------------------------------

@query(
    "x42_khop",
    with_fixture_ctes("""
SELECT seed, vertex, CAST(min(depth) AS BIGINT) AS depth
FROM reach GROUP BY seed, vertex
""", """seeds AS (
  SELECT source_id AS seed FROM (
    SELECT DISTINCT source_id FROM edges WHERE graph_id = 1
    ORDER BY source_id LIMIT 3
  )
)""", """adj AS (
  SELECT source_id AS s, destination_id AS d FROM edges
  WHERE graph_id = 1 AND state = 0
)""", """reach(seed, vertex, depth) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT r.seed, a.d, r.depth + 1 FROM reach r JOIN adj a ON a.s = r.vertex
  WHERE r.depth < 2
)""").replace("WITH ", "WITH RECURSIVE ", 1),
)
def x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    seeds = (
        st.edges.where(F.col("graph_id") == 1)
        .select(F.col("source_id").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(3)
    )
    return analytics.k_hop(st.edges, 1, seeds, k=2)


# ---------------------------------------------------------------------------
# x43 — reciprocal (mutual) edges: the reference's "follows you back"
# semantic as one scan + one shuffle (canonical-key direction bits)
# ---------------------------------------------------------------------------

@query(
    "x43_mutual_edges",
    with_fixture_ctes("""
SELECT e1.source_id AS a, e1.destination_id AS b
FROM edges e1 JOIN edges e2
  ON e1.graph_id = 3 AND e2.graph_id = 3
 AND e1.state = 0 AND e2.state = 0
 AND e1.source_id = e2.destination_id AND e1.destination_id = e2.source_id
WHERE e1.source_id < e1.destination_id
"""),
)
def x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graph 3 (the supplier interaction graph) is the one with reciprocal
    # structure in the synthetic data — graphs 1/2 are acyclic by construction
    st = store_for(spark, sf_dir)
    return analytics.mutual_edges(st.edges, 3)


# ---------------------------------------------------------------------------
# x44 — weakly-connected components of the interaction graph: the dedup
# cluster machinery (min-label propagation) applied to the edge table
# ---------------------------------------------------------------------------

@query(
    "x44_components",
    with_fixture_ctes("""
SELECT id AS vertex_id, min(root) AS component_id FROM reach GROUP BY id
""", """pairs AS (
  SELECT least(source_id, destination_id) AS a,
         greatest(source_id, destination_id) AS b
  FROM edges WHERE graph_id = 3 AND state = 0 AND source_id <> destination_id
    AND (source_id + destination_id) % 20 = 0
  GROUP BY 1, 2
)""", """und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs)""",
"""reach(id, root) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, r.root FROM reach r JOIN und e ON e.src = r.id
)""").replace("WITH ", "WITH RECURSIVE ", 1),
)
def x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of graph 3 treated as undirected: canonical-pair
    dedup of the edge list, then the same min-label propagation that powers
    duplicate-cluster resolution (x17/x38) — one shuffle per round, rounds
    bounded by component diameter."""
    st = store_for(spark, sf_dir)
    # the full interaction graph is one giant component (dull, and its
    # recursive-CTE oracle closure is O(V^2)); the 5% subgraph fragments
    # into many small components — the shape the operator exists for
    pairs = (
        st.graph(3)
        .where(
            (F.col("state") == 0)
            & (F.col("source_id") != F.col("destination_id"))
            & (F.pmod(F.col("source_id") + F.col("destination_id"), F.lit(20)) == 0)
        )
        .select(
            F.least("source_id", "destination_id").alias("a"),
            F.greatest("source_id", "destination_id").alias("b"),
        )
        .distinct()
    )
    return (
        dedup.resolve_duplicates(pairs)
        .withColumnRenamed("doc_id", "vertex_id")
        .withColumnRenamed("canonical_id", "component_id")
    )


# ---------------------------------------------------------------------------
# x45 — overlapping fixed-token chunking (context-window prep); x46 — the
# tensor-shaped end product: fixed-length token-id rows with pad + mask
# ---------------------------------------------------------------------------

@query("x45_chunking", text.chunk_documents_sql(chunk_tokens=20, overlap=5))
def x45(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=20, overlap=5
    )


@query("x46_token_ids", text.token_id_sequences_sql(seq_len=32, vocab_size=32_768))
def x46(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_id_sequences(
        _read(spark, sf_dir, "documents"), seq_len=32, vocab_size=32_768
    )


# ---------------------------------------------------------------------------
# x47 — corpus-LM surprisal proxy: mean inverse bigram frequency (integer),
# the no-external-model stand-in for a perplexity quality gate
# ---------------------------------------------------------------------------

@query("x47_bigram_surprisal", text.bigram_surprisal_sql())
def x47(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_surprisal(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x48 — the modern curation DAG, composed end-to-end: language gate →
# repetition gate → corpus-wide boilerplate gate → overlapping chunking.
# x19's successor with this round's gates; every stage is an operator
# proven above, and the boilerplate stage is deliberately CORPUS-dependent
# (document frequency over the full corpus, applied to the gated subset).
# ---------------------------------------------------------------------------

@query(
    "x48_curation_dag",
    f"""
WITH w AS (SELECT doc_id, text, {_W} AS ws FROM documents),
lang AS (
  SELECT doc_id, text, ws FROM w
  WHERE length(list_filter(ws, t -> t IN ('the','a','of','and','to'))) >= 1
),
rep AS (
  SELECT doc_id, text, ws,
         length({_TRIGRAMS}) AS n_tri,
         length(list_distinct({_TRIGRAMS})) AS nd_tri
  FROM lang
),
rep_ok AS (
  SELECT doc_id, text, ws FROM rep
  WHERE n_tri = 0 OR (n_tri - nd_tri) * 1000 // n_tri < 150
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(ws) - 3, 1)),
         i -> concat_ws(chr(32), ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])))) AS gram
  FROM w
),
sh2 AS (SELECT doc_id, gram FROM sh WHERE gram <> ''),
dfq AS (SELECT gram, count(*) AS df FROM sh2 GROUP BY gram),
boiler AS (SELECT gram FROM dfq WHERE df >= 3),
cov AS (
  SELECT s.doc_id, count(*) AS n_grams,
         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM sh2 s LEFT JOIN boiler b ON s.gram = b.gram
  GROUP BY s.doc_id
),
keep AS (
  SELECT r.doc_id, r.ws, length(r.ws) AS n
  FROM rep_ok r JOIN cov c ON c.doc_id = r.doc_id
  WHERE c.n_boiler * 1000000 // c.n_grams < 300000
),
c AS (
  SELECT doc_id, n, w AS ws,
         unnest(range(CASE WHEN n <= 20 THEN 1 ELSE 1 + (n - 20 + 14) // 15 END)) AS i
  FROM (SELECT doc_id, ws AS w, n FROM keep)
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       array_to_string(list_slice(ws, i * 15 + 1, i * 15 + 20), ' ') AS chunk_text,
       CAST(least(20, n - i * 15) AS BIGINT) AS n_tokens
FROM c
""",
)
def x48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DAG through the LIBRARY API (functions/curation.py):
    language gate → repetition gate → corpus-wide boilerplate gate →
    overlapping chunking, each a named configurable stage."""
    from .functions import curation

    docs = _read(spark, sf_dir, "documents")
    return curation.curate(
        docs,
        gates=[
            curation.lang_gate(markers=text.LANG_MARKERS["en"], min_hits=1),
            curation.repetition_gate(max_per_mille=150, n=3),
            curation.boilerplate_gate(max_micro=300_000, n=5, min_docs=3),
        ],
        finalize=[curation.chunker(chunk_tokens=20, overlap=5)],
    )


# ---------------------------------------------------------------------------
# x49 — quality-aware canonical selection: within each near-dup cluster keep
# the HIGHEST-QUALITY member (longest distinct-token count, doc_id tiebreak),
# not the smallest id — the keep-rule real curation pipelines ship
# ---------------------------------------------------------------------------

@query(
    "x49_quality_canonical",
    f"""
WITH RECURSIVE sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
sh AS (
  SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM sub
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT a, b FROM inter
  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE (n_inter * 1000000) // (sa.n_sh + sb.n_sh - n_inter) >= 20000
),
und AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(id, root) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, r.root FROM reach r JOIN und e ON e.src = r.id
),
clusters AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT c.doc_id, c.cluster_id,
         length(list_distinct(string_split(s.text, ' '))) AS nd
  FROM clusters c JOIN sub s ON s.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(CASE WHEN (nd, -doc_id) = (SELECT max((q2.nd, -q2.doc_id)) FROM q q2
                                       WHERE q2.cluster_id = q.cluster_id)
            THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM q
""",
)
def x49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every clustered document with its cluster id, quality score
    (distinct-token count), and whether it is the cluster's keeper —
    argmax(quality, then smallest id).  One window over the cluster key
    after the cluster resolution; the quality join is doc-grain."""
    docs = _docs_subset(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.02)
    clusters = dedup.resolve_duplicates(pairs.select("a", "b")).withColumnRenamed(
        "canonical_id", "cluster_id"
    )
    q = clusters.join(
        docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " "))).cast("long").alias(
                "n_distinct"
            ),
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_distinct"), F.asc("doc_id")
    )
    return q.select(
        "doc_id",
        "cluster_id",
        "n_distinct",
        (F.row_number().over(w) == 1).cast("long").alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# x50 — PII redaction: the scrubbing pass before text leaves curation.  The
# synthetic corpus carries no real PII, so both sides ENRICH each document
# with deterministic planted PII (derived from doc_id) and the gate verifies
# the full redact + audit-count path end-to-end with non-zero counts.
# ---------------------------------------------------------------------------

from .functions import pii  # noqa: E402 — grouped with its queries

_X50_ENRICH_SQL = (
    "text || ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com on 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' tel 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@query(
    "x50_pii_redaction",
    pii.redact_pii_sql(f"(SELECT doc_id, {_X50_ENRICH_SQL} AS text FROM documents)"),
)
def x50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com on 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
            F.lit(" tel 555-123-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return pii.redact_pii(enriched)


# ---------------------------------------------------------------------------
# x51 — deterministic training-order assignment: the reproducible global
# pseudo-shuffle that replaces ORDER BY random() in the corpus→trainer
# handoff (shard-local rank windows, no global sort).
# ---------------------------------------------------------------------------


@query("x51_training_order", splits.training_order_sql(n_shards=8, seed=1))
def x51(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.training_order(
        _read(spark, sf_dir, "documents"), n_shards=8, seed=1
    )


# ---------------------------------------------------------------------------
# x52/x53 — SMALL-L multi-table LSH, oracle-gated.  x06/x18 now gate the
# production DEFAULT shapes (L=8 with probes / L=16); these two pin an
# intermediate L=3 point — per-table signing, cross-table candidate union,
# dedup-before-rank at a table count cheap enough to eyeball in the oracle
# (UNION ALL of the per-table portable bucket assignments).
# ---------------------------------------------------------------------------

_X52_TABLES = 3  # `_multi_sig_cte` (defined with the x06 oracle helpers)


@query(
    "x52_lsh_ann_multitable",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
{_multi_sig_cte(_X06_PLANES, _X52_TABLES)},
q AS (
  SELECT vec_id AS query_id, ev AS qv, tbl AS qtbl, bucket AS qbucket FROM sig
  WHERE vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})
),
cand AS (
  SELECT DISTINCT query_id, s.vec_id AS neighbor_id
  FROM sig s JOIN q ON s.bucket = q.qbucket AND s.tbl = q.qtbl
  WHERE s.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qc.ev, nc.ev) AS BIGINT) AS dot_micro2
  FROM cand
  JOIN v qc ON qc.vec_id = cand.query_id
  JOIN v nc ON nc.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, dot_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
""",
)
def x52(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb, ANN_QUERY_IDS, k=10, planes=_X06_PLANES, n_probe=1,
        hash_mode="portable", n_tables=_X52_TABLES,
    )


@query(
    "x53_lsh_neardup_multitable",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
{_multi_sig_cte(_X18_PLANES, _X52_TABLES)}
SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.ev, b.ev) AS BIGINT) AS dot_micro2
FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.ev, b.ev) AS BIGINT) >= 450000000000
""",
)
def x53(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.45, planes=_X18_PLANES, hash_mode="portable",
        n_tables=_X52_TABLES,
    )


# ---------------------------------------------------------------------------
# x54 — temperature-rebalanced sampling (α=1/2): source share ∝ √n_s, the
# data-mixing flattening move.  All-integer quotas/rates + the portable id
# hash make the kept set byte-exact across engines.
# ---------------------------------------------------------------------------


@query("x54_temperature_sample", splits.temperature_sample_sql(target_per_mille=500))
def x54(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.temperature_sample(
        _read(spark, sf_dir, "documents"), target_per_mille=500
    )


# ---------------------------------------------------------------------------
# x55 — quality-percentile data selection: keep the top 30% of each source
# by the lexical-diversity score, exact per-source counts, reproducible
# tie-breaks.
# ---------------------------------------------------------------------------


@query("x55_select_top_quality", splits.select_top_quality_sql(keep_per_mille=300))
def x55(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.select_top_quality(
        _read(spark, sf_dir, "documents"), keep_per_mille=300
    )


# ---------------------------------------------------------------------------
# x56 — int8-quantized ANN: the 4× storage/IO compression path for a 100 TB
# embedding store, modeled with exact integer codes so the reconstruction
# arithmetic itself is oracle-checked (not just the plumbing).
# ---------------------------------------------------------------------------


@query(
    "x56_int8_ann",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
qz AS (
  SELECT vec_id, ev,
         CAST(list_max(list_transform(ev, x -> abs(x))) AS BIGINT) AS amax
  FROM v
),
q8 AS (
  -- _QUANT's round() yields DOUBLEs: cast each element to BIGINT so the
  -- division is integer (trunc-toward-zero), matching the numpy codes
  SELECT vec_id, amax,
         list_transform(ev, x -> (CAST(x AS BIGINT) * 127)
           // CASE WHEN amax = 0 THEN 1 ELSE amax END) AS qv
  FROM qz
),
qq AS (
  SELECT vec_id AS query_id, amax AS qamax, qv AS qqv FROM q8
  WHERE vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})
),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         (CAST(list_dot_product(qqv, c.qv) AS BIGINT) * qamax * c.amax) // 16129
           AS dot_rec_micro2
  FROM q8 c, qq WHERE c.vec_id <> query_id
)
SELECT query_id, neighbor_id, dot_rec_micro2,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY dot_rec_micro2 DESC, neighbor_id ASC
       ) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
""",
)
def x56(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.int8_ann_topk(emb, ANN_QUERY_IDS, k=10)


# ---------------------------------------------------------------------------
# x57 — FUZZY decontamination: MinHash-LSH across corpora (train vs eval),
# catching paraphrased/truncated eval leakage the exact shingle gate (x34)
# misses.  Fixture: eval = planted 2-words-dropped rephrasings of every
# 50th train doc; the gate must flag exactly those sources.  Portable hash
# mode lets the oracle re-derive signatures, band buckets, the cross-corpus
# candidate join, and the flagged-count rollup value-for-value.
# ---------------------------------------------------------------------------

_X57_THRESH = 500_000


def _fuzzy_decon_oracle_sql() -> str:
    rows = _NH // _BANDS
    fp = text.portable_hash_sql("shingle")
    hs = ", ".join(f"min({dedup.uh_sql('f', i)}) AS h{i}" for i in range(_NH))

    def band_rows(sig_cte: str) -> str:
        return "\n  UNION ALL ".join(
            f"SELECT doc_id, {bi} AS band, concat_ws('|', "
            + ", ".join(f"h{bi * rows + r}" for r in range(rows))
            + f") AS bucket FROM {sig_cte}"
            for bi in range(_BANDS)
        )

    matches = " + ".join(
        f"(CASE WHEN st.h{i} = se.h{i} THEN 1 ELSE 0 END)" for i in range(_NH)
    )
    return f"""
WITH {_planted_corpus_sql(2)},
tsh AS (SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM sub),
esh AS (SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS shingle FROM planted),
tfp AS (SELECT doc_id, {fp} AS f FROM tsh),
efp AS (SELECT doc_id, {fp} AS f FROM esh),
tsig AS (SELECT doc_id, {hs} FROM tfp GROUP BY doc_id),
esig AS (SELECT doc_id, {hs} FROM efp GROUP BY doc_id),
tband AS ({band_rows('tsig')}),
eband AS ({band_rows('esig')}),
cand AS (
  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
  FROM tband t JOIN eband e ON t.band = e.band AND t.bucket = e.bucket
),
est AS (
  SELECT cand.doc_id, (({matches}) * 1000000) // {_NH} AS est_micro
  FROM cand
  JOIN tsig st ON st.doc_id = cand.doc_id
  JOIN esig se ON se.doc_id = cand.eval_id
),
flagged AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged_evals,
         CAST(max(est_micro) AS BIGINT) AS max_est_jaccard_micro
  FROM est WHERE est_micro >= {_X57_THRESH} GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(f.n_flagged_evals, 0) AS n_flagged_evals,
       coalesce(f.max_est_jaccard_micro, 0) AS max_est_jaccard_micro,
       CAST(CASE WHEN coalesce(f.n_flagged_evals, 0) >= 1 THEN 1 ELSE 0 END AS BIGINT)
         AS is_contaminated
FROM sub d LEFT JOIN flagged f USING (doc_id)
"""


@query("x57_fuzzy_decontaminate", _fuzzy_decon_oracle_sql())
def x57(spark: SparkSession, sf_dir: str) -> DataFrame:
    train = _docs_subset(spark, sf_dir).select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    evald = train.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(w, 1, F.greatest(F.size(w) - 2, F.lit(1)))
        ).alias("text"),
    )
    return dedup.fuzzy_decontaminate(
        train, evald, num_hashes=_NH, bands=_BANDS,
        min_est_jaccard_micro=_X57_THRESH, hash_mode="portable",
    )


# ---------------------------------------------------------------------------
# x58 — TF-IDF top-terms per document: the keyword-extraction primitive
# (integer micro fixed-point idf, per-doc row_number top-k).
# ---------------------------------------------------------------------------


@query("x58_tfidf_top_terms", relevance.tfidf_top_terms_sql(k=3))
def x58(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.tfidf_top_terms(_read(spark, sf_dir, "documents"), k=3)


# ---------------------------------------------------------------------------
# x59 — inverted-index build: per-term document frequency + capped posting
# list (tf DESC, doc_id ASC) — the retrieval-serving artifact next to BM25.
# ---------------------------------------------------------------------------


@query("x59_inverted_index", relevance.inverted_index_sql(max_postings=8))
def x59(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.inverted_index(_read(spark, sf_dir, "documents"), max_postings=8)


# ---------------------------------------------------------------------------
# x60 — text normalization: the canonical lowercase/whitespace-fold pass run
# before hashing/dedup.  The synthetic corpus is already clean, so (like the
# x50 PII gate) both sides ENRICH each document with deterministic planted
# mess derived from doc_id, and the gate verifies the normalize + audit
# columns end-to-end with non-zero change counts.
# ---------------------------------------------------------------------------

_X60_ENRICH_SQL = (
    "text || '  DOC' || CAST(doc_id AS VARCHAR) || '\tTRAILING   MiXeD  '"
)


@query(
    "x60_normalize_text",
    text.normalize_text_sql(
        f"(SELECT doc_id, {_X60_ENRICH_SQL} AS text FROM documents)"
    ),
)
def x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("  DOC"),
            F.col("doc_id").cast("string"),
            F.lit("\tTRAILING   MiXeD  "),
        ).alias("text"),
    )
    return text.normalize_text(enriched)


# ---------------------------------------------------------------------------
# x61 — paired-modality integrity audit: documents ↔ embeddings coverage per
# source, plus the orphan-vector row.
# ---------------------------------------------------------------------------


@query("x61_pair_integrity", stats.pair_integrity_audit_sql())
def x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.pair_integrity_audit(
        _read(spark, sf_dir, "documents"), _read(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# x62 — tokenizer-coverage audit: per-document out-of-vocabulary per-mille
# against the induced top-30 unigram vocabulary.
# ---------------------------------------------------------------------------


@query("x62_oov_rate", text.oov_rate_sql(vocab_size=30))
def x62(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.oov_rate(_read(spark, sf_dir, "documents"), vocab_size=30)


# ---------------------------------------------------------------------------
# x63 — corpus snapshot diff: the dataset-versioning release artifact.  v2 is
# derived deterministically from v1: doc_id % 37 == 0 removed, % 41 == 0
# modified (suffix appended), % 43 == 0 cloned as a new +1M id.
# ---------------------------------------------------------------------------

_X63_NEW_SQL = (
    "(SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN text || ' v2' ELSE text END AS text"
    " FROM documents WHERE doc_id % 37 <> 0"
    " UNION ALL"
    " SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 43 = 0)"
)


@query("x63_corpus_diff", curation.corpus_diff_sql("documents", _X63_NEW_SQL))
def x63(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = _read(spark, sf_dir, "documents").select("doc_id", "text")
    kept = old.where(F.col("doc_id") % 37 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 41 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = old.where(F.col("doc_id") % 43 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return curation.corpus_diff(old, kept.unionByName(added), hash_mode="exact")


# ---------------------------------------------------------------------------
# x64 — per-label embedding centroids: the k-means/IVF training "update"
# step as a standalone exact-integer operator.
# ---------------------------------------------------------------------------


@query("x64_label_centroids", similarity.label_centroids_sql())
def x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroids(_read(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x65 — leakage-free splits: exact-dup clusters are split-atomic (every
# twin of a duplicated document lands in the same train/val/test bucket).
# ---------------------------------------------------------------------------


@query("x65_leakage_free_splits", splits.leakage_free_splits_sql())
def x65(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.leakage_free_splits(
        _read(spark, sf_dir, "documents"), hash_mode="exact"
    )


# ---------------------------------------------------------------------------
# x66 — STREAMING sessionization, oracle-gated: the same DuckDB
# gaps-and-islands oracle as x20, but the Spark side runs the real
# Structured Streaming engine (file source -> session_window state ->
# availableNow drain -> memory sink).  This pins stream==batch==oracle.
# ---------------------------------------------------------------------------


@query("x66_stream_sessionization", ORACLES["x20_sessionization"])
def x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import sessions_available_now

    return sessions_available_now(spark, sf_dir, gap_s=_SESSION_GAP_S)


# ---------------------------------------------------------------------------
# x67 — substring-level duplicate spans: strided window-hash occurrence
# counting (the bucketed approximation of suffix-array exact-substring
# dedup).  Gate runs 'exact' window keys so the DuckDB compare is
# collision-free; production uses xxhash64 8-byte keys.
# ---------------------------------------------------------------------------


@query("x67_duplicated_spans", dedup.duplicated_spans_sql(window=20, stride=10))
def x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicated_spans(
        _read(spark, sf_dir, "documents"), window=20, stride=10, hash_mode="exact"
    )


# ---------------------------------------------------------------------------
# x68 — STREAMING tumbling-window event rates, oracle-gated: fixed windows
# on the real streaming engine vs the epoch-floor SQL twin (x66 covers the
# merging session-window state; this covers the tumbling-window state).
# ---------------------------------------------------------------------------

_X68_WINDOW_S = 3600


@query(
    "x68_stream_event_rates",
    f"""
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // {_X68_WINDOW_S}) * {_X68_WINDOW_S}
         AS window_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
""",
)
def x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import event_rates_available_now

    return event_rates_available_now(spark, sf_dir, window_s=_X68_WINDOW_S)


# ---------------------------------------------------------------------------
# x69 — k-means coarse-quantizer training (Lloyd, 2 iterations, exact
# integer): the training loop ivf_ann_topk's deterministic seeds stand in
# for.  The oracle replays both iterations in SQL: seed -> assign (argmin
# exact squared distance, ties to lower cid) -> floor-mean update ->
# assign -> final (cluster, dim) centroid table.
# ---------------------------------------------------------------------------

_X69_K = 8
_X69_DIMS = 64


def _kmeans_oracle_sql(k: int, dims: int) -> str:
    dist = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "i -> (ev[i] - cv[i]) * (ev[i] - cv[i])))"
    )
    return f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ev AS cv
  FROM v ORDER BY vec_id LIMIT {k}
),
d1 AS (
  SELECT v.vec_id, s.cid, v.ev, {dist} AS dist
  FROM v CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, cid, ev FROM (
    SELECT vec_id, cid, ev,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (
  SELECT cluster AS cid, list(centroid_micro ORDER BY dim) AS cv
  FROM (
    SELECT a1.cid AS cluster, d.i AS dim,
           CAST(floor(CAST(sum(a1.ev[d.i]) AS DOUBLE) / count(*)) AS BIGINT)
             AS centroid_micro
    FROM a1, range(1, {dims + 1}) AS d(i)
    GROUP BY a1.cid, d.i
  ) GROUP BY cluster
),
d2 AS (
  SELECT v.vec_id, c.cid, v.ev, {dist} AS dist
  FROM v CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cid, ev FROM (
    SELECT vec_id, cid, ev,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d2) WHERE rn = 1
)
SELECT cid AS cluster, CAST(d.i - 1 AS INTEGER) AS dim,
       CAST(floor(CAST(sum(ev[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS centroid_micro,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM a2, range(1, {dims + 1}) AS d(i)
GROUP BY cid, d.i
"""


@query("x69_kmeans_fit", _kmeans_oracle_sql(_X69_K, _X69_DIMS))
def x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans_fit(
        _read(spark, sf_dir, "embeddings"), n_clusters=_X69_K, n_iter=2
    )


# ---------------------------------------------------------------------------
# x70 — BPE pair-count step: one tokenizer-training iteration (most frequent
# adjacent character pairs, vocabulary-weighted) — functions/text.py
# ---------------------------------------------------------------------------


@query("x70_bpe_pair_counts", text.bpe_pair_counts_sql(top_k=200))
def x70(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_pair_counts(_read(spark, sf_dir, "documents"), top_k=200)


# ---------------------------------------------------------------------------
# x71 — cross-source contamination matrix: distinct shared word trigrams per
# source pair — functions/dedup.py
# ---------------------------------------------------------------------------


@query("x71_source_overlap", dedup.source_overlap_sql())
def x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.source_overlap(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x72 — repeated-span removal with text REWRITE (x67 counts spans; this
# deletes every non-first occurrence and reassembles the document)
# ---------------------------------------------------------------------------


@query("x72_span_dedup_rewrite", dedup.dedup_spans_rewrite_sql(seg_words=8))
def x72(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_spans_rewrite(_read(spark, sf_dir, "documents"), seg_words=8)


# ---------------------------------------------------------------------------
# x73 — incremental (continuous-ingestion) dedup: the delta batch
# (doc_id % 10 == 7) flagged against the existing corpus and itself
# ---------------------------------------------------------------------------


@query("x73_incremental_dedup", dedup.incremental_dedup_sql())
def x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 7)
    corpus = docs.where(F.col("doc_id") % 10 != 7)
    return dedup.incremental_dedup(corpus, batch, hash_mode="exact")


# ---------------------------------------------------------------------------
# x74 — STREAMING exact-dedup index, oracle-gated: the maintained
# (content → kept id, count) index built by the real streaming engine
# (file source -> stateful hash-agg -> availableNow drain), hash-matched
# against the same GROUP BY text oracle as batch x01.  Third streaming
# bridge: x66 = session state, x68 = window state, x74 = running-agg state.
# ---------------------------------------------------------------------------


@query("x74_stream_dedup_index", ORACLES["x01_dedup_exact"])
def x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import dedup_index_available_now

    return dedup_index_available_now(spark, sf_dir)


# ---------------------------------------------------------------------------
# x75 — distributed-training shard assignment + balance audit (per-rank doc
# and token loads with exact per-mille deviation from the ideal share)
# ---------------------------------------------------------------------------


@query("x75_training_shards", splits.training_shards_sql(world_size=8))
def x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.training_shards(_read(spark, sf_dir, "documents"), world_size=8)


# ---------------------------------------------------------------------------
# x76 — vocabulary frequency-of-frequencies (Zipf spectrum) audit
# ---------------------------------------------------------------------------


@query("x76_vocab_spectrum", text.vocab_spectrum_sql())
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_spectrum(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x77 — per-label embedding outlier audit: top-k vectors farthest from their
# own label centroid (mislabeled/noisy-vector sweep), exact integers
# ---------------------------------------------------------------------------


@query("x77_embedding_outliers", similarity.embedding_outliers_sql(top_k=5))
def x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_outliers(_read(spark, sf_dir, "embeddings"), top_k=5)


# ---------------------------------------------------------------------------
# x78 — language-ID confusion matrix (labeled × predicted, doc counts) —
# the classifier-QA artifact over the same staged hit counts as x10
# ---------------------------------------------------------------------------


@query(
    "x78_lang_confusion",
    f"""
WITH h AS (
  SELECT lang AS labeled_lang,
         {text.lang_hits_sql("text", "en")} AS hits_en,
         {text.lang_hits_sql("text", "de")} AS hits_de,
         {text.lang_hits_sql("text", "es")} AS hits_es,
         {text.lang_hits_sql("text", "fr")} AS hits_fr
  FROM documents
),
p AS (
  SELECT labeled_lang,
         CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
              WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
              WHEN hits_es >= hits_fr THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM h
)
SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY labeled_lang, pred_lang
""",
)
def x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_confusion(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x79 — k-core peel (3 fixed rounds, k=40) over graph 3's undirected Normal
# edges — the cohesive-backbone extraction; oracle replays the rounds in
# chained CTEs (the kmeans_fit gate pattern).  k=40 sits above graph 3's
# median degree so the peel actually cascades at the gate SF (round 1 keeps
# 102 vertices, round 2 re-peels to 76 at sf0.01).
# ---------------------------------------------------------------------------

_X79_CTES, _X79_FINAL = analytics.k_core_sql(graph_id=3, k=40, n_rounds=3)


@query("x79_k_core", with_fixture_ctes(_X79_FINAL, _X79_CTES))
def x79(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return analytics.k_core(st.edges, graph_id=3, k=40, n_rounds=3)


# ---------------------------------------------------------------------------
# x80 — count-min sketch of corpus word counts (4×256, portable-hash
# verification twin) — the fixed-size mergeable frequency summary
# ---------------------------------------------------------------------------


@query("x80_count_min_sketch", text.count_min_sketch_sql(depth=4, width=256))
def x80(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.count_min_sketch(_read(spark, sf_dir, "documents"), depth=4, width=256)


# ---------------------------------------------------------------------------
# x81 — STREAMING count-min sketch, oracle-gated: the fourth streaming
# bridge (x66 session state, x68 window state, x74 running-agg state,
# x81 constant-size sketch state) — same oracle as batch x80; the cell
# table is identical because cell addition is associative over any
# grouping of the input stream.
# ---------------------------------------------------------------------------


@query("x81_stream_sketch", ORACLES["x80_count_min_sketch"])
def x81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import sketch_available_now

    return sketch_available_now(spark, sf_dir, depth=4, width=256)


# ---------------------------------------------------------------------------
# x82 — bloom-filter decontamination: x34 through a constant-size
# membership sketch (k=4 hashes, 16384 bits) — flagged docs are a
# deterministic SUPERSET of the exact gate's (one-sided error, safe
# direction for leakage); same eval fixture as x34 (doc_id % 97 == 0)
# ---------------------------------------------------------------------------


@query("x82_bloom_decontaminate", dedup.bloom_decontaminate_sql())
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.bloom_decontaminate(corpus, ev)


# ---------------------------------------------------------------------------
# x83 — HyperLogLog distinct-user registers per event type: the fixed-size
# (64 rows/group) mergeable COUNT(DISTINCT) sketch — registers are exact
# integers, so the gate value-matches them; estimation accuracy and
# elementwise-max mergeability are pinned by unit tests
# ---------------------------------------------------------------------------


@query(
    "x83_hll_registers",
    text.hll_registers_sql("user_id", ["event_type"], table="events"),
)
def x83(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.hll_registers(
        _read(spark, sf_dir, "events"), "user_id", ["event_type"]
    )


# ---------------------------------------------------------------------------
# x84 — heavy hitters: exact frequent terms (≥1% of total tokens), COST-BASED
# strategy (the default a user gets): below the 8 GiB input estimate the
# planner picks the single-pass exact groupBy (what DuckDB always plans —
# the sketch passes are pure overhead when the vocabulary aggregate fits
# memory); above it, the two-pass CMS-pruned plan.  x103 pins the sketch
# strategy explicitly so the 100 TB shape keeps its own oracle gate.
# ---------------------------------------------------------------------------


@query("x84_heavy_hitters", text.heavy_hitters_sql(per_mille=10))
def x84(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.heavy_hitters(_read(spark, sf_dir, "documents"), per_mille=10)


# ---------------------------------------------------------------------------
# x103 — heavy hitters, sketch strategy FORCED: the two-pass CMS-pruned plan
# (sketch prunes with one-sided error, exact recount confirms — result EQUALS
# the plain HAVING-count oracle while the vocabulary-sized aggregation only
# ever sees candidate tokens).  Gated separately from x84 so the scale shape
# stays value-checked at every round even though auto never picks it at
# sf0.01; its DuckDB twin is the exact plan, so the bench line measures the
# strategy's small-scale overhead ON PURPOSE.
# ---------------------------------------------------------------------------


@query("x103_heavy_hitters_sketch", text.heavy_hitters_sql(per_mille=10))
def x103(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.heavy_hitters(
        _read(spark, sf_dir, "documents"), per_mille=10, strategy="sketch"
    )


# ---------------------------------------------------------------------------
# x85 — exactly-k-per-group deterministic sample (seeded scramble rank):
# the reproducible eyeball/eval draw; Bernoulli x29 varies the size, this
# guarantees it
# ---------------------------------------------------------------------------


@query("x85_fixed_size_sample", splits.fixed_size_sample_sql(k=5))
def x85(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.fixed_size_sample(_read(spark, sf_dir, "documents"), k=5)


# ---------------------------------------------------------------------------
# x90 — token-budgeted selection: keep each source's highest-quality docs
# until the per-source token budget fills ("N tokens per domain" mixture cap)
# ---------------------------------------------------------------------------


@query("x90_token_budget", splits.token_budget_select_sql(budget_tokens=800))
def x90(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.token_budget_select(
        _read(spark, sf_dir, "documents"), budget_tokens=800
    )


# ---------------------------------------------------------------------------
# x86 — STREAMING interval join, oracle-gated: click→purchase attribution
# pairs (same user, purchase within 1h) built by the real stream-stream
# join state machine — fifth streaming bridge (x66 sessions, x68 windows,
# x74 running agg, x81 sketch, x86 JOIN state); oracle is the batch
# self-join over the same events
# ---------------------------------------------------------------------------


@query(
    "x86_stream_interval_join",
    """
SELECT a.event_id AS click_event_id, b.event_id AS purchase_event_id,
       a.user_id,
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS delay_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND floor(epoch(b.ts)) >= floor(epoch(a.ts))
 AND floor(epoch(b.ts)) <= floor(epoch(a.ts)) + 3600
""",
)
def x86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import interval_join_available_now

    return interval_join_available_now(spark, sf_dir, horizon_s=3600)


# ---------------------------------------------------------------------------
# x87/x88 — source-format round-trip gates: the documents table written out
# as JSONL / full-quoted CSV and read back through the pinned-schema
# readers (sources/corpus.py), value-hashed against the parquet oracle —
# the ingestion surface a training pipeline actually receives data through
# ---------------------------------------------------------------------------

_ROUNDTRIP_ORACLE = "SELECT doc_id, text, lang, source, n_chars FROM documents"


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    import hashlib
    import tempfile

    from .sources import corpus as corpus_src

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # deterministic per-(format, sf_dir, PROCESS) path + overwrite-mode
    # writers: repeated gate runs in one process reuse the directory
    # instead of leaking a new tempdir per invocation, while two
    # concurrent gate runs over the same sf_dir never overwrite each
    # other's files mid-read
    import os

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/flockdb_{fmt}_rt_{tag}_{os.getpid()}"
    if fmt == "jsonl":
        corpus_src.write_documents_jsonl(docs, path, n_files=4)
        back = corpus_src.read_documents_jsonl(spark, path, keep_corrupt=False)
    elif fmt == "orc":
        corpus_src.write_documents_orc(docs, path, n_files=4)
        back = corpus_src.read_documents_orc(spark, path)
    else:
        corpus_src.write_documents_csv(docs, path, n_files=4)
        back = corpus_src.read_documents_csv(spark, path)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


@query("x87_jsonl_roundtrip", _ROUNDTRIP_ORACLE)
def x87(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "jsonl")


@query("x88_csv_roundtrip", _ROUNDTRIP_ORACLE)
def x88(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


@query("x104_orc_roundtrip", _ROUNDTRIP_ORACLE)
def x104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (sources/corpus.py:155-175): the Hive/
    Trino-side columnar interchange format, written with zlib + stripe
    stats and read back through the pinned schema — value-hashed against
    the parquet oracle like x87/x88."""
    return _roundtrip(spark, sf_dir, "orc")


# ---------------------------------------------------------------------------
# x89 — Z-order (Morton) clustering key: the multi-dimensional layout key
# behind OPTIMIZE ZORDER; exact bit-interleave arithmetic, value-matched
# against the DuckDB twin; the layout's file-pruning dominance over a
# linear sort is pinned by test (tests/test_layout.py)
# ---------------------------------------------------------------------------


@query(
    "x89_zorder_key",
    "SELECT l_orderkey, l_partkey, "
    + zorder_key_sql("l_orderkey", "l_partkey")
    + " AS zkey FROM lineitem",
)
def x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import zorder_key

    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_partkey", zorder_key("l_orderkey", "l_partkey").alias("zkey")
    )


# ---------------------------------------------------------------------------
# x91 — Kneser-Ney bigram LM estimation: the n-gram model behind
# KenLM-style perplexity/quality filters, exact integer micro-probabilities
# ---------------------------------------------------------------------------


@query("x91_kneser_ney", text.kneser_ney_bigrams_sql())
def x91(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.kneser_ney_bigrams(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x92 — last-touch attribution: each purchase credited to the same user's
# most recent click within 1h, on the as-of sweep (one shuffle, no range
# join); oracle is DuckDB's native ASOF JOIN
# ---------------------------------------------------------------------------


@query("x92_last_touch", stats.last_touch_attribution_sql(horizon_s=3600))
def x92(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.last_touch_attribution(
        _read(spark, sf_dir, "events"), horizon_s=3600
    )


# ---------------------------------------------------------------------------
# x93 — personalized PageRank (teleport to the node_id % 29 == 0 seed set,
# 3 iterations) — the recommendation primitive; oracle replays the
# iterations as chained CTEs like x14/x79
# ---------------------------------------------------------------------------

_X93_CTES, _X93_FINAL = analytics.personalized_pagerank_sql(graph_id=3, iterations=3)


@query("x93_personalized_pagerank", with_fixture_ctes(_X93_FINAL, _X93_CTES))
def x93(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return analytics.personalized_pagerank(st.edges, graph_id=3, iterations=3)


# ---------------------------------------------------------------------------
# x94 — held-out KN perplexity filter: model trained on doc_id % 10 != 0,
# the held-out tenth scored with full OOV backoff (unseen bigram → λ·p_cont,
# unseen context → continuation unigram) — the LM quality gate x47's
# self-trained ratio cannot express
# ---------------------------------------------------------------------------


@query("x94_kn_perplexity", text.kn_surprisal_sql())
def x94(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return text.kn_surprisal(
        docs.where(F.col("doc_id") % 10 != 0), docs.where(F.col("doc_id") % 10 == 0)
    )


# ---------------------------------------------------------------------------
# x95 — collocation extraction: adjacent pairs ranked by integer lift over
# the bigram table (the phrase-detection pass before tokenizer training)
# ---------------------------------------------------------------------------


@query("x95_collocations", text.collocations_sql(min_count=5, top_k=100))
def x95(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.collocations(_read(spark, sf_dir, "documents"), min_count=5, top_k=100)


# ---------------------------------------------------------------------------
# x96 — salted-join equivalence gate: the hot-key mitigation
# (operators/skew.py) joining each document to its source's stats through
# 16-way key salting — result must be IDENTICAL to the plain join (the
# salt is an execution strategy, not a semantics change)
# ---------------------------------------------------------------------------


@query(
    "x96_salted_join",
    """
WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT d.doc_id, d.source, s.n_docs
FROM documents d JOIN s USING (source)
""",
)
def x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_join

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    stats = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return salted_join(docs, stats, on=["source"], salt=16).select(
        "doc_id", "source", "n_docs"
    )


# ---------------------------------------------------------------------------
# x97 — deterministic negative sampling for contrastive pairs: a bucketed
# consistent-hash ring draw — each anchor's k negatives are the ring
# successors of k seeded probes into its hash bucket's sorted slot array
# (codegen array filter, no shuffle beyond the bucket grain), with self and
# exact-duplicate candidates excluded at pick time (a dup is a false
# negative that poisons the objective).  Robust on sparse/clustered id
# domains where fixed id-offset strides silently degenerate to zero
# matches (the defect that killed the first design at sf1.0).
# ---------------------------------------------------------------------------


@query("x97_negative_samples", splits.negative_samples_sql(k=3, n_buckets=16))
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    return splits.negative_samples(
        _read(spark, sf_dir, "documents"), k=3, n_buckets=16
    )


# ---------------------------------------------------------------------------
# x98 — SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
# 2303.09540): k-means-cell bucketing (density-adaptive, vs x38's random
# hyperplanes), within-cell exact pairs, min-label group resolve, and the
# paper's keep-FARTHEST-from-centroid survivor rule — the oracle replays
# seeds, argmin assignment, pairs, recursive reach, and the survivor window
# ---------------------------------------------------------------------------


@query(
    "x98_semantic_dedup",
    similarity.semantic_dedup_sql(n_clusters=8, threshold=0.45),
)
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        _read(spark, sf_dir, "embeddings"), n_clusters=8, threshold=0.45
    )


# ---------------------------------------------------------------------------
# x99 — multi-query BM25 top-k retrieval: N probe queries answered in ONE
# corpus pass (broadcast query-term table into the single tokenize+explode,
# per-(query, doc) partial sums, row_number top-k per query) — the
# query-targeted corpus-selection step / batch analogue of a retrieval
# endpoint, and the serving-shaped dual of x25's corpus scorer
# ---------------------------------------------------------------------------


@query("x99_bm25_topk", relevance.bm25_topk_sql(n_queries=5, terms_per_query=2, k=10))
def x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.bm25_topk(
        _read(spark, sf_dir, "documents"), n_queries=5, terms_per_query=2, k=10
    )


# ---------------------------------------------------------------------------
# x100 — model-based quality filter: an integer linear classifier (distilled
# fasttext-style weights over engineered features) scored in one codegen
# projection — zero shuffles, zero Python; the scan-fused shape that applies
# a trained quality model to a 100 TB corpus
# ---------------------------------------------------------------------------


@query("x100_quality_classifier", curation.quality_classifier_sql())
def x100(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.quality_classifier(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x101 — hybrid retrieval with reciprocal-rank fusion: the dense leg (exact
# cosine top-k over embeddings, Arrow GEMM) and the lexical leg (IDF-weighted
# term-overlap top-k over documents, one broadcast-joined corpus pass) are
# fused per query by integer RRF (Σ 1e6 div (60 + rank)) — the standard
# two-tower retrieval recipe, composed entirely from gated primitives (x05's
# scorer, x58's idf table).  The oracle replays both legs and the fusion.
# ---------------------------------------------------------------------------


@query(
    "x101_hybrid_rrf",
    relevance.hybrid_rrf_sql(ANN_QUERY_IDS, k=10, k_dense=20, k_lex=20),
)
def x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row counts from the parquet footers (the DuckDB-equivalent catalog
    # path, r10): the leg selector and the n_docs literal cost zero jobs
    return relevance.hybrid_rrf_topk(
        _read(spark, sf_dir, "documents"),
        _read(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS,
        k=10,
        k_dense=20,
        k_lex=20,
        n_docs=parquet_nrows(sf_dir, "documents"),
        n_vectors=parquet_nrows(sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# x102 — exact-phrase search: the gate derives the corpus's top bigram as
# the phrase fixture (count DESC, pair ASC) and broadcasts it as a 1-row
# join into the scan-fused higher-order-filter count of consecutive-token
# matches — ONE lazy plan, zero Python, overlapping occurrences included.
# The literal-phrase production API (relevance.phrase_match — zero-shuffle
# single scan) is pinned by pytest.  The oracle derives the same phrase
# and counts via the pair stream (identical counts for m=2).
# ---------------------------------------------------------------------------


@query("x102_phrase_match", relevance.phrase_match_sql())
def x102(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.phrase_match_top_bigram(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x105 — vocabulary drift between corpus snapshots: per-term total-variation
# contribution |c_a·1e6 div N_a − c_b·1e6 div N_b|, top-k by (drift, term) —
# the distribution-shift monitor a continuously-refreshed corpus publishes
# per snapshot.  Fixture snapshots: even vs odd doc_ids — both sides of one
# source table, so the gate runs the SINGLE-SCAN form (r7): tag, tokenize
# once, fold both counts in one term-keyed aggregation; no full-outer join.
# The two-table form (stats.vocab_drift) stays for genuinely separate
# snapshots and is pinned row-equal by pytest.
# ---------------------------------------------------------------------------


@query("x105_vocab_drift", stats.vocab_drift_sql(k=20))
def x105(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return stats.vocab_drift_single_scan(docs, F.col("doc_id") % 2, k=20)


# ---------------------------------------------------------------------------
# x106 — quality-probe FIT: the normal-equation sufficient statistics
# (XᵀX, Xᵀy) for training the x100 linear classifier, accumulated in ONE
# map-side-combined corpus pass over the same engineered features with a
# weak lang='en' label; the driver solves the 6×6 system (curation.
# solve_probe, pytest-pinned).  decimal/HUGEINT accumulation, BIGINT
# emission (exact to ~9e10 docs — the collocations convention).
# ---------------------------------------------------------------------------


@query("x106_probe_fit", curation.probe_fit_stats_sql(label_lang="en"))
def x106(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.probe_fit_stats(_read(spark, sf_dir, "documents"), label_lang="en")


# ---------------------------------------------------------------------------
# x107 — batch exact-phrase search: N phrases answered in ONE corpus pass
# (broadcast phrase table into a single map-side bigram stream, map-side
# combined per-(phrase, doc) counts) — the batcher dual of x102, shaped
# like x99's multi-query retrieval and the reference's batch selectEdges.
# Fixture phrases: the top-5 corpus bigrams, derived lazily in-plan.
# ---------------------------------------------------------------------------


@query("x107_multi_phrase", relevance.multi_phrase_match_sql(n_phrases=5))
def x107(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relevance.multi_phrase_match(
        _read(spark, sf_dir, "documents"), n_phrases=5
    )


# ---------------------------------------------------------------------------
# x108 — vertex similarity by neighborhood Jaccard over graph 3 (supplier →
# part): the dedup machinery applied to the reference's own domain —
# shared-destination bucket join (sub-quadratic, hot-key cap available),
# exact integer Jaccard.  "Similar accounts by who they follow."
# ---------------------------------------------------------------------------


@query(
    "x108_neighborhood_jaccard",
    with_fixture_ctes("""
SELECT a, b, n_inter,
       sa.n + sb.n - n_inter AS n_union,
       (n_inter * 1000000) // (sa.n + sb.n - n_inter) AS jaccard_micro
FROM (
  SELECT x.source_id AS a, y.source_id AS b, CAST(count(*) AS BIGINT) AS n_inter
  FROM adj x JOIN adj y ON x.destination_id = y.destination_id
                       AND x.source_id < y.source_id
  GROUP BY 1, 2
) i
JOIN sizes sa ON sa.source_id = a
JOIN sizes sb ON sb.source_id = b
WHERE (n_inter * 1000000) // (sa.n + sb.n - n_inter) >= 10000
""", """
adj AS (
  SELECT DISTINCT source_id, destination_id FROM edges
  WHERE graph_id = 3 AND state = 0
)
""".strip(), """
sizes AS (
  SELECT source_id, CAST(count(*) AS BIGINT) AS n FROM adj GROUP BY source_id
)
""".strip()),
)
def x108(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return analytics.neighborhood_jaccard(st.edges, graph_id=3, threshold=0.01)


# ---------------------------------------------------------------------------
# x109 — LSH near-dup at the AUTO-SIZED shape (the r7 default): the
# operator counts the corpus and sizes (planes, n_tables) itself via
# lsh_auto_shape — planes from the 512-row bucket budget (floor 4), tables
# from the 0.95 at-threshold recall target (cap 32).  The oracle computes
# the SAME shape from count(*) inside the query (lsh_auto_shape_sql +
# lsh_bucket_dyn_sql), so this single SQL string stays valid at every
# sweep SF — at sf0.01 it resolves to the x18 production shape (4, 16), at
# sf1.0 to (6, 32), and the gate proves the Python and SQL shape rules
# agree wherever it runs.  This is what keeps candidate work ~n·budget·L
# instead of n²/2^planes at 100 TB (SCALE.md sf3→sf10 measurement).
# ---------------------------------------------------------------------------


@query(
    "x109_lsh_auto_neardup",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
shape AS (
{similarity.lsh_auto_shape_sql("v", threshold=0.45, target_recall=0.95,
                               bucket_budget=512, min_planes=4, max_tables=32)}
),
sig AS (
  SELECT vec_id, ev, t AS tbl,
         {similarity.lsh_bucket_dyn_sql("ev", 64)} AS bucket
  FROM v
  CROSS JOIN shape
  CROSS JOIN (SELECT unnest(range(0, (SELECT n_tables_eff FROM shape))) AS t)
)
SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.ev, b.ev) AS BIGINT) AS dot_micro2
FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.ev, b.ev) AS BIGINT) >= 450000000000
""",
)
def x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    # NO shape args — this gate exists to pin the auto-sizing default
    return similarity.lsh_neardup_pairs(emb, threshold=0.45, hash_mode="portable")


# ---------------------------------------------------------------------------
# x110 — hybrid RRF retrieval with an ANN dense leg (VERDICT r6 item 5):
# x101's exact contract, but dense_fn = multi-probe LSH at the pinned
# production shape (planes=4, n_probe=4, L=8 — recall@10 = 1.00 at gate
# scale, so at THIS corpus the fused output equals x101's where the legs
# agree, and the oracle replays the LSH dense leg exactly either way).
# This is the leg hybrid_rrf_topk auto-selects past dense_brute_max_dots —
# the 100 TB shape, gated: scale users no longer inherit an O(corpus·|Q|)
# brute default.  A plan test pins that the auto rule actually switches.
# ---------------------------------------------------------------------------


@query(
    "x110_hybrid_rrf_ann",
    relevance.hybrid_rrf_sql(
        ANN_QUERY_IDS, k=10, k_dense=20, k_lex=20,
        dense_ctes=f"""{_multiprobe_ctes(4, 4, 8)},
dense AS (
  SELECT query_id, neighbor_id AS doc_id,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id ASC
         ) AS BIGINT) AS dense_rank
  FROM scored
  QUALIFY dense_rank <= 20
)""",
    ),
)
def x110(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    dense_fn = lambda e, q, kk: similarity.lsh_ann_topk(  # noqa: E731
        e, q, k=kk, planes=4, n_probe=4, n_tables=8, hash_mode="portable",
    )
    return relevance.hybrid_rrf_topk(
        docs, emb, ANN_QUERY_IDS, k=10, k_dense=20, k_lex=20, dense_fn=dense_fn,
        n_docs=parquet_nrows(sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# x112 — product-quantization ANN (Jégou et al. 2011, TPAMI): per-subspace
# codebooks (deterministic seeds, the x15 pattern), argmin encoding, and
# asymmetric-distance (ADC) ranking — the RAM-resident serving path at
# 100 TB: 64-dim vectors compress to 8 one-byte codes (32-64×), scoring is
# 8 table lookups per candidate.  All arithmetic exact int64 on the micro
# grid, so the oracle replays every distance bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "x112_pq_ann",
    similarity.pq_ann_sql(ANN_QUERY_IDS, k=10, n_subspaces=8, n_codes=16),
)
def x112(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.pq_ann_topk(
        emb, ANN_QUERY_IDS, k=10, n_subspaces=8, n_codes=16
    )


# ---------------------------------------------------------------------------
# x113 — TRAINED product quantization: x112's encode/ADC plumbing with
# per-subspace Lloyd-refined codebooks (2 deterministic rounds on the
# 256-smallest-id sample — PQ trains on a sample by design; integer floor
# means, argmin-ties-to-lower-code, empty cells keep their codeword).  The
# oracle replays the training loop round by round, MATERIALIZED, so the
# refined codebook — and every ADC distance derived from it — is exact in
# both engines.  RECALL.md records the measured seed-vs-trained gap.
# ---------------------------------------------------------------------------


@query(
    "x113_pq_trained",
    similarity.pq_ann_sql(
        ANN_QUERY_IDS, k=10, n_subspaces=8, n_codes=16,
        train_rounds=2, n_train=256,
    ),
)
def x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.pq_ann_topk(
        emb, ANN_QUERY_IDS, k=10, n_subspaces=8, n_codes=16,
        train_rounds=2, n_train=256,
    )


# ---------------------------------------------------------------------------
# x114 — two-stage PQ serving: compressed-domain ADC prefilter (x113's
# trained codebooks) to 100 candidates, exact integer-dot rerank of just
# those — recall = the prefilter's capture rate (RECALL.md) at
# |Q|·candidates exact-scoring cost instead of corpus-sized.  The oracle
# nests the x113 twin and replays the rerank join.
# ---------------------------------------------------------------------------


@query(
    "x114_pq_rerank",
    similarity.pq_rerank_sql(
        ANN_QUERY_IDS, k=10, candidates=100,
        n_subspaces=8, n_codes=16, train_rounds=2, n_train=256,
    ),
)
def x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.pq_rerank_topk(
        emb, ANN_QUERY_IDS, k=10, candidates=100,
        n_subspaces=8, n_codes=16, train_rounds=2, n_train=256,
    )

# ---------------------------------------------------------------------------
# x115 — IVF-PQ ANN (Jégou et al. 2011's IVFADC): the x15 inverted file
# restricts each query to its n_probe nearest cells; inside them candidates
# rank in the COMPRESSED domain — product-quantized RESIDUALS scored by
# per-(query, cell) ADC tables.  The production 100 TB serving composition:
# cell restriction cuts the candidate scan to ~n_probe/n_centroids of the
# corpus, residual codes (8 bytes/vector) keep it RAM-resident, and no raw
# vector is touched during scoring.  All arithmetic exact int64 on the
# micro grid — the oracle replays both quantization levels bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "x115_ivfpq_ann",
    similarity.ivfpq_ann_sql(
        ANN_QUERY_IDS, k=10, n_centroids=16, n_probe=4,
        n_subspaces=8, n_codes=16,
    ),
)
def x115(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.ivfpq_ann_topk(
        emb, ANN_QUERY_IDS, k=10, n_centroids=16, n_probe=4,
        n_subspaces=8, n_codes=16,
    )


# ---------------------------------------------------------------------------
# x116 — MMR diversity rerank (Carbonell & Goldstein, SIGIR 1998): greedy
# λ·relevance − (1−λ)·max-sim-to-selected over each query's brute top-40
# candidates — the standard redundancy-removal stage of a retrieval /
# curation pipeline (diverse exemplar sampling).  λ is an exact rational
# and every score an int64 micro² dot, so the oracle unrolls the greedy
# loop into k MATERIALIZED rounds and replays it pick for pick.
# ---------------------------------------------------------------------------


@query(
    "x116_mmr_rerank",
    similarity.mmr_rerank_sql(ANN_QUERY_IDS, k=8, k_cand=40),
)
def x116(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank_topk(emb, ANN_QUERY_IDS, k=8, k_cand=40)

# ---------------------------------------------------------------------------
# x117 — dominant-PC projection by deterministic power iteration (the
# "all-but-the-top" embedding post-processing measurement, Mu & Viswanath
# 2018).  One corpus pass builds the exact centered-Gram sufficient
# statistics (Σxxᵀ − μ(Σx)ᵀ − (Σx)μᵀ + nμμᵀ — exact for the floor mean, so
# mean+Gram need a single pass); the driver iterates the 64×64 Gram in
# arbitrary-precision ints; a JVM-side second pass projects every vector.
# The oracle replays the rounds in HUGEINT bit-for-bit.
# ---------------------------------------------------------------------------


@query("x117_top_pc_projection", similarity.top_pc_projection_sql(rounds=8))
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.top_pc_projection(emb, rounds=8)

# ---------------------------------------------------------------------------
# x118 — IVF-PQ with BOTH levels TRAINED (the production IVFADC recipe):
# k-means coarse cells (x69's exact integer Lloyd chain) + residual
# codebooks refined by per-subspace Lloyd rounds (x113's training
# contract), argmin-d2 assignment throughout.  Closes the lever RECALL.md
# measured on x115: training the coarse level is what makes residuals
# small enough for residual PQ to work.  The oracle replays the FULL
# two-level index build — coarse rounds, residual rounds, encode, ADC.
# ---------------------------------------------------------------------------


@query(
    "x118_ivfpq_trained",
    similarity.ivfpq_trained_sql(
        ANN_QUERY_IDS, k=10, n_centroids=16, coarse_iter=2, n_probe=4,
        n_subspaces=8, n_codes=16, train_rounds=2, n_train=256,
    ),
)
def x118(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.ivfpq_trained_ann_topk(
        emb, ANN_QUERY_IDS, k=10, n_centroids=16, coarse_iter=2, n_probe=4,
        n_subspaces=8, n_codes=16, train_rounds=2, n_train=256,
    )

# ---------------------------------------------------------------------------
# x119 — the maintained IVF routing index as a STREAM (the always-on
# companion to x15's batch index build): per coarse cell, population and
# smallest member id, folded incrementally by the real streaming engine —
# stateless JVM cell assignment (argmax dot over broadcast centroid
# literals via an array_max of (dot, −cid) structs — no Python worker),
# then a stateful per-cell aggregation whose count/min state is
# commutative: no watermark, O(|cells|) state at any stream length.
# Fifth streaming oracle bridge (x66 sessions, x68 windows, x74 dedup
# index, x81 sketch, x86 interval join precede it).
# ---------------------------------------------------------------------------


@query(
    "x119_stream_ivf_cells",
    f"""
WITH cents AS (
  SELECT vec_id AS cid,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell_idx,
         {_QUANT} AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
asg AS (
  -- cell_idx (the seed RANK) is the stream side's cell id: carried
  -- through so an empty cell cannot shift the numbering
  SELECT vec_id, cell_idx FROM (
    SELECT v.vec_id, c.cell_idx,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(list_dot_product(v.ev, c.cv) AS BIGINT) DESC, c.cid ASC
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
)
SELECT cell_idx AS cell, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM asg GROUP BY cell_idx
""",
)
def x119(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import ivf_cells_available_now

    return ivf_cells_available_now(spark, sf_dir)


# ---------------------------------------------------------------------------
# x120 — binary sign-sketch ANN: every embedding compresses to its 64 SIGN
# BITS in ONE BIGINT (64× vs the micro-int vector), candidates rank by
# Hamming distance (xor + popcount — the cheapest possible prefilter,
# Charikar's SimHash with the coordinate axes as hyperplanes), the winners
# get the x114 exact-dot rerank.  The sketch build is PURE JVM expressions
# (zip_with/aggregate — zero Python at ingest, the x119 rule); the oracle
# replays the packing (bit 63 via the BIGINT min literal), the xor/popcount
# ranking, and the rerank bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "x120_binary_ann",
    similarity.binary_ann_sql(ANN_QUERY_IDS, k=10, k_cand=100),
)
def x120(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.binary_ann_topk(
        _read(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10, k_cand=100
    )


# ---------------------------------------------------------------------------
# x121 — DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
# bag models for the target domain vs the raw corpus, per-doc log-ratio
# weights (micro-integer, order-independent), deterministic Gumbel-limit
# top-k.  The model-fit shuffle is CONSTANT-size (≤ buckets cells after
# partial agg) and scoring is a broadcast join — the corpus never shuffles
# at gram grain, the shape that matters when the raw pool is 100 TB and the
# target slice is a few GB.
# ---------------------------------------------------------------------------


@query("x121_dsir_selection", text.dsir_importance_sql(buckets=256, k=100))
def x121(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dsir_importance(
        _read(spark, sf_dir, "documents"), buckets=256, k=100
    )


# ---------------------------------------------------------------------------
# x122 — multi-pass LSH recall recovery (VERDICT r10 item 3): when the
# table cap binds, `lsh_neardup_pairs` recovers the recall target by
# running extra PASSES of fresh-seeded tables (global table index
# pass·L + t) and deduping pairs across them — output-equivalent to one
# uncapped run, with peak per-job shuffle bounded at n·L key rows.  This
# gate pins the equivalence at a shape small enough for every sweep SF:
# 2 passes of 8 tables must equal the pinned 16-table x18 production
# shape, so the oracle IS x18's 16-table SQL verbatim.
# ---------------------------------------------------------------------------


@query(
    "x122_lsh_multipass_neardup",
    f"""
WITH v AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
{_multi_sig_cte(_X18_PLANES, 16)}
SELECT DISTINCT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.ev, b.ev) AS BIGINT) AS dot_micro2
FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.ev, b.ev) AS BIGINT) >= 450000000000
""",
)
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.45, planes=4, n_tables=8, n_passes=2,
        hash_mode="portable",
    )


# ---------------------------------------------------------------------------
# x123 — SemDeDup at the AUTO-SCALED K (VERDICT r10 item 4): n_clusters
# derives from the corpus (max(8, ceil(n/512)) — expected cell population
# bounded at the 512-row budget, so within-cell pair work stays ~n·512
# instead of the N²/K a fixed K degrades to), and assignment routes
# through the kmeans_fit Arrow GEMM once K outgrows a codegen expression
# chain (K > 16 — at sf0.1+ this gate exercises the GEMM path; both paths
# are bit-identical, so the oracle is path-agnostic).  The oracle computes
# the SAME K from count(*) inside the query — x109's pattern — so this
# single SQL string is valid at every sweep SF.  x98 keeps gating the
# pinned-K=8 paper shape.
# ---------------------------------------------------------------------------


@query(
    "x123_semantic_dedup_auto",
    similarity.semantic_dedup_sql(n_clusters=None, threshold=0.45),
)
def x123(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        _read(spark, sf_dir, "embeddings"), threshold=0.45
    )
