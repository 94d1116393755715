"""Text-analysis operators for the training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs.  Ratios are computed as exact integer
counts first and divided/rounded at the end so results are reproducible across
engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.classes import hold

#: marker stopwords per language for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "les", "et", "est", "une"),
}

STOPWORDS = LANG_MARKERS["en"]

FP_MOD = 1_000_000_007  # polynomial rolling-hash modulus
FP_BASE = 31


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the baseline tokenizer)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-flavored upper bound: words plus an extra token per 4 chars of
    long words — the kind of cheap token estimator a 100 TB corpus pass uses
    instead of running a real tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(tokens(c)) + F.aggregate(
        tokens(c),
        F.lit(0),
        lambda acc, w: acc + F.when(F.length(w) > 4, (F.length(w) - 1).cast("int") / F.lit(4)).otherwise(F.lit(0)).cast("int"),
    )


def _count_in(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: char/token counts, distinct-token count,
    mean token length, stopword ratio — the standard cheap quality filters.

    Staged projection: the token array is materialized once per row; the
    metrics reference the column, so the split doesn't re-run per metric."""
    w = F.col("w")
    return (
        df.select("doc_id", F.length(text_col).cast("long").alias("n_chars_m"),
                  tokens(text_col).alias("w"))
        .select(
            "doc_id",
            "n_chars_m",
            F.size(w).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
            F.round(
                (F.col("n_chars_m") - F.size(w) + 1) / F.size(w), 4
            ).alias("avg_token_len"),
            F.round(_count_in(w, STOPWORDS) / F.size(w), 4).alias("stop_ratio"),
        )
    )


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold_pm: int = 150,
) -> DataFrame:
    """Gopher-style intra-document repetition metrics: the per-mille fraction
    of duplicated tokens and duplicated word ``n``-grams, plus a repetitive
    flag at ``threshold_pm``.  Highly repetitive documents (boilerplate,
    keyword stuffing, degenerate generations) are the standard first casualty
    of a pretraining quality gate.

    Pure per-row map over built-in array functions — no shuffle, no Python;
    scales linearly and pushes only ``doc_id``/``text`` through the scan.
    All ratios are exact integer per-mille (floor), portable across engines.
    """
    # staged projections: each array (words, trigrams) and each distinct-count
    # materializes ONCE per row — a single fused expression would re-evaluate
    # the split/transform tree for every metric that references it
    w = F.col("w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))  # sequence() would run backwards
    counted = (
        df.select("doc_id", tokens(text_col).alias("w"))
        .select("doc_id", "w", grams.alias("tri"))
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tok"),
            F.size(F.array_distinct(w)).cast("long").alias("nd_tok"),
            F.size(F.col("tri")).cast("long").alias("n_tri"),
            F.size(F.array_distinct("tri")).cast("long").alias("nd_tri"),
        )
    )
    dup_tok_pm = F.floor(
        (F.col("n_tok") - F.col("nd_tok")) * 1000 / F.col("n_tok")
    ).cast("long")
    dup_tri_pm = F.when(F.col("n_tri") == 0, F.lit(0)).otherwise(
        F.floor((F.col("n_tri") - F.col("nd_tri")) * 1000 / F.col("n_tri"))
    ).cast("long")
    return counted.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        dup_tok_pm.alias("dup_token_pm"),
        F.col("n_tri").alias("n_trigrams"),
        dup_tri_pm.alias("dup_trigram_pm"),
        (dup_tri_pm >= threshold_pm).cast("long").alias("is_repetitive"),
    )


def repetition_features_sql(
    table: str = "documents",
    text_col: str = "text",
    threshold_pm: int = 150,
) -> str:
    """DuckDB twin of :func:`repetition_features` (n=3)."""
    w = f"string_split({text_col}, ' ')"
    tri = (
        f"list_transform(range(1, length({w}) - 1), "
        f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2]))"
    )
    return f"""
WITH r AS (
  SELECT doc_id, length({w}) AS n_tok, length(list_distinct({w})) AS nd_tok,
         length({tri}) AS n_tri, length(list_distinct({tri})) AS nd_tri
  FROM {table}
),
pm AS (
  SELECT doc_id, n_tok, n_tri,
         (n_tok - nd_tok) * 1000 // n_tok AS dup_token_pm,
         CASE WHEN n_tri = 0 THEN 0 ELSE (n_tri - nd_tri) * 1000 // n_tri END AS dup_trigram_pm
  FROM r
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(dup_token_pm AS BIGINT) AS dup_token_pm,
       CAST(n_tri AS BIGINT) AS n_trigrams,
       CAST(dup_trigram_pm AS BIGINT) AS dup_trigram_pm,
       CAST(CASE WHEN dup_trigram_pm >= {threshold_pm} THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
FROM pm
"""


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID.  Deterministic argmax with fixed
    tie-break order en > de > es > fr."""
    # stage the token array, then the per-language hit counts, so the split
    # runs once and each count once — the argmax only reads the hit columns
    staged = df.select(
        "doc_id", F.col("lang").alias("labeled_lang"), tokens(text_col).alias("w")
    ).select(
        "doc_id",
        "labeled_lang",
        *[
            _count_in(F.col("w"), m).cast("long").alias(f"hits_{code}")
            for code, m in LANG_MARKERS.items()
        ],
    )
    hits = {code: F.col(f"hits_{code}") for code in LANG_MARKERS}
    pred = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]), "en")
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), "de")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    return staged.select(
        "doc_id",
        "labeled_lang",
        *[f"hits_{c}" for c in LANG_MARKERS],
        pred.alias("pred_lang"),
    )


#: bases for the seeded portable rolling hash (distinct odd primes; seed 0 is
#: the classic Java-style 31, seed 1 gives an independent-enough second hash)
PH_BASES = (31, 131, 257, 523)


def portable_hash(col: Column | str, seed: int = 0) -> Column:
    """Engine-portable string hash: polynomial rolling hash over the string's
    characters, ``h = h*base + codepoint mod 1e9+7`` — expressible identically
    in any SQL engine (DuckDB twin: :func:`portable_hash_sql`), which is what
    makes the MinHash/SimHash/LSH family oracle-checkable.  The production
    path uses ``xxhash64`` (JVM-intrinsic, better avalanche); this is the
    verification twin, selected via each operator's ``hash_mode``.
    ``seed`` picks an independent base from ``PH_BASES``."""
    c = F.col(col) if isinstance(col, str) else col
    base = PH_BASES[seed]
    chars = F.filter(F.split(c, ""), lambda x: x != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, ch: F.pmod(h * base + F.ascii(ch), F.lit(FP_MOD)),
    )


def portable_hash_sql(expr: str, seed: int = 0) -> str:
    """DuckDB twin of :func:`portable_hash` over a string SQL expression."""
    base = PH_BASES[seed]
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split({expr}, ''), x -> x <> ''), "
        "x -> CAST(ascii(x) AS BIGINT))), "
        f"(h, c) -> (h * {base} + c) % {FP_MOD})"
    )


def fingerprint(col: Column | str) -> Column:
    """Polynomial rolling hash over the document's characters
    (h = h*31 + ascii(c) mod 1e9+7) — an engine-portable stand-in for a
    rolling Rabin fingerprint; used for cheap doc identity and simhash-style
    derivations.

    This is the expression-tree reference implementation (array HOFs are
    interpreted per character — fine composed inside other expressions, slow
    as a whole-corpus pass).  The corpus-scale path is
    :func:`fingerprint_vectorized`, bit-identical by test.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda x: x != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, ch: F.pmod(h * FP_BASE + F.ascii(ch), F.lit(FP_MOD)),
    )


def _poly_hash_np(vals, base: int = FP_BASE, mod: int = FP_MOD):
    """Batched polynomial hash: one numpy pass over a whole Arrow batch.

    Horner's rule is re-associated as h = Σ c_i · base^(n−1−i) mod m so the
    per-character loop becomes vectorized exponent lookup + modular multiply
    + segmented sum (``np.add.reduceat`` over string offsets).  Characters
    are Unicode CODEPOINTS (UTF-32) — Spark strings are UTF8String, so its
    ``split('')``/``ascii()`` iterate codepoints, not UTF-16 units (pinned
    by the astral-emoji case in the bit-identity test).  Overflow-safe in
    int64: each term < mod ≈ 2^30, so a document needs > 2^33 characters
    before the segment sum could wrap.

    ``vals`` is a sequence of ``str | None``; returns ``(hashes int64,
    null_mask bool)``.
    """
    import numpy as np

    enc = [x.encode("utf-32-le") if isinstance(x, str) else b"" for x in vals]
    null_mask = np.fromiter(
        (not isinstance(x, str) for x in vals), count=len(enc), dtype=bool
    )
    lens = np.fromiter((len(e) // 4 for e in enc), count=len(enc), dtype=np.int64)
    out = np.zeros(len(enc), dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return out, null_mask
    big = np.frombuffer(b"".join(enc), dtype=np.uint32).astype(np.int64)
    maxlen = int(lens.max())
    pows = np.empty(maxlen, dtype=np.int64)
    p = 1
    for i in range(maxlen):
        pows[i] = p
        p = (p * base) % mod
    offs = np.zeros(len(enc), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    idx = np.arange(total, dtype=np.int64)
    expo = np.repeat(lens, lens) - 1 - (idx - np.repeat(offs, lens))
    contrib = big * pows[expo] % mod
    nz = lens > 0
    out[nz] = np.add.reduceat(contrib, offs[nz]) % mod
    return out, null_mask


def fingerprint_vectorized(col: Column | str) -> Column:
    """Arrow-batched twin of :func:`fingerprint` for whole-corpus passes.

    Same hash, computed by :func:`_poly_hash_np` inside a pandas UDF —
    per-character work leaves the interpreted expression evaluator for one
    numpy pass per Arrow batch (measured ~4× on the corpus fingerprint
    pass; bit-identity with the expression path is pinned by test,
    including NULL → NULL and '' → 0)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _fp(s: pd.Series) -> pd.Series:
        hashes, null_mask = _poly_hash_np(s.values)
        out = pd.array(hashes, dtype="Int64")
        out[null_mask] = None
        return pd.Series(out)

    return _fp(F.col(col) if isinstance(col, str) else col)


# DuckDB twins ---------------------------------------------------------------

FINGERPRINT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_filter(string_split({col}, ''), x -> x <> ''), "
    "x -> CAST(ascii(x) AS BIGINT))), "
    f"(h, c) -> (h * {FP_BASE} + c) % {FP_MOD})"
)


def lang_hits_sql(col: str, code: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[code])
    return (
        f"CAST(length(list_filter(string_split({col}, ' '), w -> w IN ({markers}))) AS BIGINT)"
    )


def boilerplate_coverage(
    docs: DataFrame, n: int = 5, min_docs: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document boilerplate coverage — the C4-style curation gate that
    drops pages dominated by templated content (nav bars, footers, license
    blocks).  A word ``n``-gram is *boilerplate* when it appears in at least
    ``min_docs`` DISTINCT documents; each document reports how many of its
    distinct n-grams are boilerplate.

    100 TB shape (r12): the cache holds DOC-GRAIN gram ARRAYS (one row per
    document — the r11 heavy-hitters/BM25 trade: ~10× fewer rows than the
    old exploded (doc, gram) cache), because two consumers need the grams
    and gram generation is the expensive per-row work; each consumer
    re-derives the exploded stream map-side (a free ``explode`` of the
    cached array).  Consumer 1 builds the document-frequency table (one
    gram-keyed hash agg, map-side partial combine — grams are distinct per
    doc already) and keeps grams with df ≥ ``min_docs``; consumer 2 LEFT
    joins the stream against that boilerplate set and rolls up to doc grain
    in ONE aggregation — ``count(*)`` is n_grams and ``count(_b)`` is
    n_boiler, so the old separate per-doc totals aggregation AND the final
    doc-keyed join (whose small-SF plan broadcast a DOC-GRAIN table — an
    estimate that degrades to a corpus SMJ at scale) are gone.  No driver
    materialization; no pair blow-up, so no skew cap needed.  The cached
    frame is held by the active query scope
    (:func:`flockdb_spark.operators.classes.hold`), which releases it when
    the query ends, however the result is composed afterwards.

    Output: (doc_id, n_grams, n_boiler, boiler_micro) — integers only.
    """
    from pyspark.ml.feature import NGram

    tok = docs.select(F.col("doc_id"), tokens(text_col).alias("_w"))
    arrs = hold(
        NGram(n=n, inputCol="_w", outputCol="_g")
        .transform(tok)
        .select("doc_id", F.array_distinct("_g").alias("_grams"))
        .cache()
    )
    sh = arrs.select("doc_id", F.explode("_grams").alias("shingle"))
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("shingle", F.lit(1).alias("_b"))
    )
    return (
        sh.join(boiler, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_b").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            F.expr("n_boiler * 1000000 div n_grams").alias("boiler_micro"),
        )
    )


def boilerplate_coverage_sql(n: int = 5, min_docs: int = 3) -> str:
    """DuckDB twin of :func:`boilerplate_coverage` over ``documents``."""
    w = "string_split(text, ' ')"
    grams = (
        f"list_distinct(list_transform(range(1, greatest(length({w}) - {n - 2}, 1)), "
        f"i -> concat_ws(chr(32), "
        + ", ".join(f"{w}[i+{j}]" for j in range(n))
        + ")))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
),
sh2 AS (SELECT doc_id, gram FROM sh WHERE gram <> ''),
dfq AS (SELECT gram, count(*) AS df FROM sh2 GROUP BY gram),
boiler AS (SELECT gram FROM dfq WHERE df >= {min_docs}),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM sh2 GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_boiler FROM sh2 JOIN boiler USING (gram)
  GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
       CAST(coalesce(h.n_boiler, 0) * 1000000 // p.n_grams AS BIGINT) AS boiler_micro
FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
"""


def bigram_stats(docs: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-token pair frequencies, top-``k`` — the counting
    step a BPE/WordPiece vocabulary induction runs per merge round (the
    most frequent pair becomes the next merge rule).

    Plan shape: pair generation is a map-side generator (zip of the token
    array with its own tail, then explode — no shuffle); the frequency
    count is one partial-agg shuffle on the pair key; the top-k is
    ``TakeOrderedAndProject`` — every partition keeps only its local k, so
    the driver receives partitions × k rows, never the pair table.  Ties
    break on the pair string for cross-engine determinism.

    Output: (pair, freq), freq DESC, pair ASC, exactly ``k`` rows (or fewer
    on tiny corpora).
    """
    w = tokens(text_col)
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(k)
    )


def bigram_stats_sql(k: int = 50) -> str:
    """DuckDB twin of :func:`bigram_stats` over ``documents``."""
    w = "string_split(text, ' ')"
    return f"""
WITH t AS (SELECT {w} AS w FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM t
)
SELECT pair, CAST(count(*) AS BIGINT) AS freq FROM pairs GROUP BY pair
ORDER BY freq DESC, pair ASC LIMIT {k}
"""


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 20,
    overlap: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks — the
    standard context-window prep before embedding or training on long
    documents.  Chunk i covers tokens [i·step, i·step + chunk_tokens) with
    step = chunk_tokens − overlap; the final chunk is the remainder (never
    empty, never duplicated).

    Map-side generator: the token array materializes once per row (staged
    projection), chunks come from one transform + explode — no shuffle,
    output partitioning follows the input.

    Output: (doc_id, chunk_id, chunk_text, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    w = F.col("_w")
    n = F.size(w)
    # 1 chunk when the doc fits; else 1 + ceil((len - chunk)/step)
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise((n - chunk_tokens + step - 1).cast("long") / step + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice(w, i * step + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), n - i * step).cast("long").alias("n_tokens"),
        ),
    )
    return (
        docs.select("doc_id", tokens(text_col).alias("_w"))
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


def chunk_documents_sql(chunk_tokens: int = 20, overlap: int = 5) -> str:
    """DuckDB twin of :func:`chunk_documents` over ``documents``."""
    step = chunk_tokens - overlap
    w = "string_split(text, ' ')"
    return f"""
WITH t AS (SELECT doc_id, {w} AS w, length({w}) AS n FROM documents),
c AS (
  SELECT doc_id, n,
         unnest(range(CASE WHEN n <= {chunk_tokens} THEN 1
                      ELSE 1 + (n - {chunk_tokens} + {step} - 1) // {step} END)) AS i,
         w
  FROM t
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       array_to_string(list_slice(w, i * {step} + 1, i * {step} + {chunk_tokens}), ' ') AS chunk_text,
       CAST(least({chunk_tokens}, n - i * {step}) AS BIGINT) AS n_tokens
FROM c
"""


def token_id_sequences(
    docs: DataFrame,
    seq_len: int = 32,
    vocab_size: int = 32_768,
    text_col: str = "text",
) -> DataFrame:
    """Fixed-length token-id rows — the tensor-shaped final product of the
    pipeline: each document's tokens map to ids via the portable hash
    (1..vocab_size; 0 is the pad id), truncated/padded to ``seq_len``.

    Ids and mask are emitted space-joined (engine-portable string form; a
    training loader splits them back — at 100 TB the write would be a
    petastorm/arrow-style binary sink instead, same upstream plan).
    Map-side only: one staged token array, no shuffle.

    Output: (doc_id, ids_str, mask_str, n_real).
    """
    w = F.col("_w")
    ids = F.transform(
        F.slice(w, 1, seq_len),
        lambda t: F.pmod(portable_hash(t), F.lit(vocab_size)) + 1,
    )
    n_real = F.least(F.size(w), F.lit(seq_len)).cast("long")
    padded = F.concat(
        ids,
        F.array_repeat(
            F.lit(0).cast("long"),
            F.greatest(F.lit(seq_len) - F.size(w), F.lit(0)).cast("int"),
        ),
    )
    mask = F.transform(
        F.sequence(F.lit(1), F.lit(seq_len)), lambda i: (i <= n_real).cast("int")
    )
    return (
        docs.select("doc_id", tokens(text_col).alias("_w"))
        .select(
            "doc_id",
            F.concat_ws(" ", padded).alias("ids_str"),
            F.concat_ws(" ", mask).alias("mask_str"),
            n_real.alias("n_real"),
        )
    )


def token_id_sequences_sql(seq_len: int = 32, vocab_size: int = 32_768) -> str:
    """DuckDB twin of :func:`token_id_sequences` over ``documents``."""
    w = "string_split(text, ' ')"
    ph = portable_hash_sql("t")
    return f"""
WITH d AS (SELECT doc_id, {w} AS w FROM documents),
s AS (
  SELECT doc_id, least(length(w), {seq_len}) AS n_real,
         list_transform(list_slice(w, 1, {seq_len}), t -> ({ph}) % {vocab_size} + 1) AS ids,
         length(w) AS n
  FROM d
)
SELECT doc_id,
       array_to_string(list_concat(ids,
         list_transform(range(greatest({seq_len} - n, 0)), x -> 0)), ' ') AS ids_str,
       array_to_string(list_transform(range(1, {seq_len} + 1),
         i -> CASE WHEN i <= n_real THEN 1 ELSE 0 END), ' ') AS mask_str,
       CAST(n_real AS BIGINT) AS n_real
FROM s
"""


def bigram_surprisal(
    docs: DataFrame, text_col: str = "text", vocab_mod: int = 1_000_000
) -> DataFrame:
    """Corpus-LM quality proxy: how surprising each document's adjacent
    token pairs are under the corpus's own bigram distribution — fluent,
    in-distribution text scores low; shuffled or degenerate text scores
    high.  The integer stand-in for a perplexity gate when no external LM
    is available at corpus scale.

    surprisal(doc) = mean over its bigrams of (N / count(bigram)), in
    integer micros (N = total bigram occurrences corpus-wide) — a pure
    frequency ratio, no logs, so the result is exact and engine-portable.

    Plan: the bigram generator is map-side (zip-with-tail, as
    :func:`bigram_stats`); the exploded occurrence stream is CACHED so
    the corpus is tokenized and exploded exactly once (it feeds both the
    corpus-count aggregation and the doc-side join — without the cache
    Spark re-scans the parquet and re-tokenizes for each consumer).
    Corpus counts are one partial-agg shuffle on ``pair``; the doc-side
    join is keyed on the bigram and reuses that partitioning; one final
    agg back to doc grain.  The count table is corpus-sized — it stays a
    shuffle join (broadcasting it would assume a small vocabulary).  The
    cached occurrence stream is held by the active query scope
    (:func:`flockdb_spark.operators.classes.hold`).  A doc-grain pre-aggregation
    ``(doc_id, pair, m)`` was measured and REJECTED: natural text has
    few doc-local repeat bigrams, so the extra full-width shuffle buys
    no row reduction (2× slower at sf1.0).

    Overflow: the per-pair ratio is computed as
    ``decimal(38,0)(N) * 10^6 div count`` (HUGEINT in the DuckDB twin),
    so the intermediate never wraps int64 at any corpus size; the
    per-doc mean is bounded by the rarest-pair ratio, so the final
    BIGINT cast only saturates if a single doc's mean exceeds
    9.2e18 micros (a hapax bigram in a >9.2e12-bigram corpus), where
    ANSI engines null rather than wrap.

    Output: (doc_id, n_bigrams, surprisal_micro).
    """
    w = F.col("_w")
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = (
        docs.select("doc_id", tokens(text_col).alias("_w"))
        .select("doc_id", F.explode(pairs).alias("pair"))
    )
    bg = hold(bg.cache())
    counts = bg.groupBy("pair").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n")).select("n")
    # the 1-row N broadcast deliberately joins the STREAM here (not the
    # counts side, unlike tfidf's n_docs): folding it into counts inserts a
    # node between the groupBy and the pair join, which breaks the
    # ReusedExchange of bg's shuffle — measured 1.9x slower at sf1.0
    # (3.66 s vs 1.94 s min-of-5); the stream-side BNLJ tax is the cheaper
    # of the two effects on this plan
    return (
        bg.join(counts, "pair")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            # mean of per-bigram integer ratios, floored at each step for
            # cross-engine exactness; decimal middle product per docstring
            F.expr(
                "CAST(sum(CAST(n AS DECIMAL(38,0)) * 1000000 div c)"
                " div count(*) AS BIGINT)"
            ).alias("surprisal_micro"),
        )
    )


def bigram_surprisal_sql() -> str:
    """DuckDB twin of :func:`bigram_surprisal` over ``documents``."""
    w = "string_split(text, ' ')"
    return f"""
WITH t AS (SELECT doc_id, {w} AS w FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM t
),
counts AS (SELECT pair, count(*) AS c FROM bg GROUP BY pair),
total AS (SELECT sum(c) AS n FROM counts)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       -- HUGEINT middle product: N*1e6 wraps int64 once the corpus
       -- exceeds ~9.2e12 bigrams (see the Spark twin's docstring)
       CAST(sum(CAST(n AS HUGEINT) * 1000000 // c) // count(*) AS BIGINT)
         AS surprisal_micro
FROM bg JOIN counts USING (pair) CROSS JOIN total
GROUP BY doc_id
"""


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization — the first pass of every corpus ingest,
    run BEFORE any hashing/dedup operator so near-identical bytes dedup
    exactly: lowercase, fold all whitespace runs (space/tab/newline/CR) to a
    single space, and trim.

    Pure per-row codegen expressions (no shuffle, no Python); emits an audit
    pair alongside the cleaned text so a pipeline report can track how much
    the pass changed: (doc_id, text_norm, changed, chars_saved).
    """
    c = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(c), "[\\t\\n\\r ]+", " "))
    return df.select(
        "doc_id",
        norm.alias("text_norm"),
        (norm != c).cast("long").alias("changed"),
        (F.length(c) - F.length(norm)).cast("long").alias("chars_saved"),
    )


def normalize_text_sql(source_sql: str = "documents") -> str:
    """DuckDB twin of :func:`normalize_text`."""
    return f"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '[\t\n\r ]+', ' ', 'g')) AS text_norm
  FROM {source_sql}
)
SELECT doc_id, text_norm,
       CAST(CASE WHEN text_norm <> text THEN 1 ELSE 0 END AS BIGINT) AS changed,
       CAST(length(text) - length(text_norm) AS BIGINT) AS chars_saved
FROM n
"""


def oov_rate(
    docs: DataFrame, vocab_size: int = 30, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-coverage audit: induce the top-``vocab_size`` unigram
    vocabulary by corpus frequency (tie-break term ASC) and report, per
    document, the per-mille of tokens falling outside it — the
    out-of-vocabulary rate that decides whether a tokenizer/vocab is big
    enough for a corpus slice.

    Scale shape (100 TB): one shuffle counts unigrams with map-side combine;
    the vocabulary is top-k (TakeOrdered, no global sort) and BROADCAST into
    the token table, so the per-document aggregation is the only other
    shuffle.  Output: (doc_id, n_tokens, n_oov, oov_pm).
    """
    toks = docs.select("doc_id", F.explode(tokens(text_col)).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.floor(F.col("n_oov") * 1000 / F.col("n_tokens")).cast("long").alias("oov_pm"),
        )
    )


def oov_rate_sql(vocab_size: int = 30) -> str:
    """DuckDB twin of :func:`oov_rate` over ``documents``."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (
  SELECT term FROM tok GROUP BY term
  ORDER BY count(*) DESC, term ASC LIMIT {vocab_size}
),
flagged AS (
  SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v USING (term)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(sum(oov) * 1000 // count(*) AS BIGINT) AS oov_pm
FROM flagged GROUP BY doc_id
"""


def bpe_pair_counts(
    docs: DataFrame, top_k: int = 200, text_col: str = "text"
) -> DataFrame:
    """One iteration of BPE tokenizer training: the ``top_k`` most frequent
    adjacent character pairs over the corpus, counted the way a BPE trainer
    counts them — per-word pair multiplicity × corpus word frequency.  The
    highest-ranked pair is the next merge a trainer would apply.

    Scale shape (100 TB): the pair explosion runs over the DISTINCT-WORD
    table (the vocabulary) carrying each word's corpus count, not over the
    corpus itself — the classic trainer optimization that turns an O(corpus
    tokens) inner loop into O(|vocab|).  Two hash aggregations (word counts,
    then pair counts — both with map-side partial combine) and a
    ``TakeOrdered`` top-k; no shuffle carries more than the vocabulary.

    Output: (pair, n_occurrences, rank), rank 1-based by
    (count DESC, pair ASC) — fully deterministic at count ties.
    """
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_words"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "n_words",
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("n_words").cast("long").alias("n_occurrences")
    )
    ranked = agg.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return ranked.select(
        "pair",
        "n_occurrences",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def bpe_pair_counts_sql(top_k: int = 200, table: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_pair_counts`."""
    return f"""
WITH w AS (
  SELECT word, count(*) AS n_words
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
  WHERE length(word) >= 2 GROUP BY word
),
p AS (
  SELECT unnest([substr(word, i, 2) for i in range(1, length(word))]) AS pair,
         n_words
  FROM w
),
a AS (
  SELECT pair, CAST(sum(n_words) AS BIGINT) AS n_occurrences
  FROM p GROUP BY pair
)
SELECT pair, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS INTEGER) AS rank
FROM a ORDER BY rank LIMIT {top_k}
"""


def vocab_spectrum(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary frequency-of-frequencies (the Zipf spectrum): how many
    distinct words occur exactly ``freq`` times in the corpus, plus each
    band's share of total tokens — the audit that surfaces corpus pathologies
    a mean can't (hapax share spikes on OCR noise / machine-generated text;
    a truncated high-frequency tail means boilerplate flooding).

    Scale shape (100 TB): two hash aggregations, both with map-side combine
    — (word → count), then (count → count-of-counts); the second aggregates
    the VOCABULARY, not the corpus, and its key space is O(log corpus) in
    practice.  No window, no join.

    Output: (freq, n_words, token_share_pm) ordered by freq.
    """
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spectrum = words.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_words")
    )
    w = Window.partitionBy()
    return spectrum.select(
        F.col("freq").cast("long").alias("freq"),
        "n_words",
        F.expr("(freq * n_words * 1000) div sum(freq * n_words) over ()")
        .cast("long")
        .alias("token_share_pm"),
    )


def vocab_spectrum_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`vocab_spectrum`."""
    return f"""
WITH words AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
  GROUP BY word
),
spectrum AS (
  SELECT CAST(freq AS BIGINT) AS freq, CAST(count(*) AS BIGINT) AS n_words
  FROM words GROUP BY freq
)
SELECT freq, n_words,
       CAST((freq * n_words * 1000)
            // CAST(sum(freq * n_words) OVER () AS BIGINT) AS BIGINT)
         AS token_share_pm
FROM spectrum
"""


def lang_confusion(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID confusion matrix: labeled language × predicted language
    with document counts — the evaluation artifact a classifier QA pass
    publishes (which languages the n-gram heuristic confuses, and how often
    the corpus's labels disagree with its content).

    One corpus pass (the same staged hit-count projection as
    :func:`lang_id`) plus a tiny |langs|² aggregation with map-side
    combine.  Output: (labeled_lang, pred_lang, n_docs).
    """
    return (
        lang_id(docs, text_col)
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


CMS_MOD = 1_000_000_007


def _cms_params(row: int) -> tuple[int, int]:
    """Deterministic universal-hash multipliers per sketch row (same family
    as ``dedup._uh_params``; a ≠ 0 and both < CMS_MOD keep a·fp < 2^63)."""
    a = (2654435761 * (row + 1)) % CMS_MOD or 1
    b = (40503 * (row + 1) + 17) % CMS_MOD
    return a, b


def count_min_sketch(
    docs: DataFrame,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Count-min sketch of the corpus word counts: ``depth`` independent
    hash rows × ``width`` buckets, each cell the sum of counts of the words
    hashing into it — the fixed-size frequency summary a 100 TB pipeline
    keeps when the exact vocabulary table is too big to ship (point-query
    estimate = min over rows of the probed cells; always ≥ the true count).

    Deterministic and oracle-checkable: the bucket hash is the portable
    rolling fingerprint scrambled through per-row universal-hash params —
    the same verification-twin discipline as the MinHash family.

    Scale shape (100 TB): one word-count aggregation (map-side combine)
    over the corpus, then a ``depth``-way generator explode of the DISTINCT
    WORD table into (row, bucket, n) partials whose reduce key space is
    depth·width cells — constant-size output regardless of corpus size.
    Sketches MERGE by elementwise addition (cell keys are corpus-independent),
    so per-shard sketches combine without rehashing — the property that
    makes this the streaming/distributed counting workhorse.

    Output: (row, bucket, cnt) for non-empty cells.
    """
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("fp", portable_hash("word"))
    )
    rows = []
    for r in range(depth):
        a, b = _cms_params(r)
        rows.append(
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(
                    F.pmod(F.col("fp") * F.lit(a) + F.lit(b), F.lit(CMS_MOD)),
                    F.lit(width),
                ).cast("int").alias("bucket"),
            )
        )
    cells = words.select(F.explode(F.array(*rows)).alias("cell"), "n").select(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"), "n"
    )
    return cells.groupBy("row", "bucket").agg(
        F.sum("n").cast("long").alias("cnt")
    )


def count_min_sketch_sql(
    depth: int = 4, width: int = 256, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`count_min_sketch`."""
    fp = portable_hash_sql("word")
    arms = []
    for r in range(depth):
        a, b = _cms_params(r)
        arms.append(
            f"SELECT {r} AS row, CAST(((fp * {a} + {b}) % {CMS_MOD}) % {width} AS INTEGER) AS bucket, n FROM w"
        )
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH counts AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
  GROUP BY word
),
w AS (SELECT word, n, {fp} AS fp FROM counts),
cells AS (
{union}
)
SELECT row, bucket, CAST(sum(n) AS BIGINT) AS cnt
FROM cells GROUP BY row, bucket
"""


# ---------------------------------------------------------------------------
# HyperLogLog-style distinct-count registers (mergeable, oracle-checkable)
# ---------------------------------------------------------------------------

HLL_P = 6                      # 2^6 = 64 registers per group
HLL_WBITS = 24                 # usable rank bits: FP_MOD < 2^30, minus p


def _rho(w: Column) -> Column:
    """ρ(w) = 1 + number of trailing zero bits of ``w`` (the HLL register
    update), capped at HLL_WBITS+1 for w == 0.  Expressed as the exact
    integer sum Σ_k [w mod 2^k = 0] — ``w % 2^k == 0`` iff the k low bits
    are zero, so the sum counts trailing zeros without bit intrinsics and
    the DuckDB twin is the literal same arithmetic (portable across any
    SQL engine; stays inside whole-stage codegen on Spark)."""
    terms = [
        F.when(F.pmod(w, F.lit(1 << k)) == 0, 1).otherwise(0)
        for k in range(1, HLL_WBITS + 1)
    ]
    out = F.lit(1)
    for t in terms:
        out = out + t
    return out


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = HLL_P,
) -> DataFrame:
    """HyperLogLog register table for COUNT(DISTINCT value) per group — the
    fixed-size (2^p rows per group) mergeable sketch that replaces exact
    distinct counting when the value domain is too large to shuffle (the
    "distinct users per slice" dashboard op at 100 TB).

    Register update: fp = portable_hash(value); bucket = fp mod 2^p;
    register[bucket] = max(ρ(fp div 2^p)).  Deterministic and
    oracle-checkable (DuckDB twin :func:`hll_registers_sql`); production
    would swap the portable hash for ``xxhash64`` exactly like the
    MinHash family's ``hash_mode``.

    Mergeability: registers combine by elementwise MAX (max is commutative
    and idempotent), so per-shard sketches union without rehashing —
    pinned by test.  Estimation is :func:`hll_estimate` over the collected
    (tiny) register table.

    Scale shape: one map-side projection (hash + mod, no Python), one
    aggregation whose key space is |groups|·2^p — constant per group
    regardless of input rows; max has a map-side partial, so the shuffle
    carries at most 2^p rows per group per task.

    Output: (*group_cols, bucket, rho).
    """
    group_cols = list(group_cols or [])
    m = 1 << p
    fp = portable_hash(F.col(value_col).cast("string"))
    proj = df.select(
        *group_cols,
        F.pmod(fp, F.lit(m)).cast("int").alias("bucket"),
        # integer shift, not float division — m is 2^p and fp ≥ 0, so this
        # is exactly the DuckDB twin's `fp // m`
        F.shiftright(fp, p).cast("long").alias("w"),
    )
    return (
        proj.select(*group_cols, "bucket", _rho(F.col("w")).alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").cast("int").alias("rho"))
    )


def hll_registers_sql(
    value_expr: str,
    group_cols: list[str] | None = None,
    table: str = "events",
    p: int = HLL_P,
) -> str:
    """DuckDB twin of :func:`hll_registers`."""
    group_cols = list(group_cols or [])
    m = 1 << p
    fp = portable_hash_sql(f"CAST({value_expr} AS VARCHAR)")
    gsel = "".join(f"{c}, " for c in group_cols)
    gby = ", ".join([*group_cols, "bucket"]) if group_cols else "bucket"
    tz = " + ".join(
        f"(CASE WHEN w % {1 << k} = 0 THEN 1 ELSE 0 END)"
        for k in range(1, HLL_WBITS + 1)
    )
    return f"""
WITH v AS (SELECT {gsel}{fp} AS fp FROM {table}),
b AS (SELECT {gsel}CAST(fp % {m} AS INTEGER) AS bucket, fp // {m} AS w FROM v)
SELECT {gsel}bucket, CAST(max(1 + {tz}) AS INTEGER) AS rho
FROM b GROUP BY {gby}
"""


def hll_estimate(registers: dict[int, int], p: int = HLL_P) -> float:
    """Driver-side HLL cardinality estimate from a collected register table
    (one group's {bucket: rho} dict; missing buckets are empty).

    Standard HLL with the small-range linear-counting correction
    (Flajolet et al. 2007): E = α_m·m²/Σ2^(−ρ_j); if E ≤ 2.5m and any
    register is empty, E = m·ln(m/V) with V the count of empty registers.
    Relative error ≈ 1.04/√m (13% at m=64) — pinned by test against exact
    distinct counts.
    """
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = sum(1 for j in range(m) if registers.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        import math

        est = m * math.log(m / zeros)
    return est


# ---------------------------------------------------------------------------
# Heavy hitters: CMS-pruned exact frequent-term extraction
# ---------------------------------------------------------------------------


def heavy_hitters(
    docs: DataFrame,
    per_mille: int = 10,
    depth: int = 1,
    width: int = 1024,
    text_col: str = "text",
    strategy: str = "auto",
    sketch_min_bytes: int = 8 << 30,
) -> DataFrame:
    """Exact frequent terms (count ≥ per_mille‰ of total tokens).

    Two physical strategies with identical results, selected cost-based:

    - ``"exact"`` — single pass: one vocabulary-keyed groupBy with map-side
      combine; the threshold total re-aggregates the cached (word, cnt)
      table, so the corpus is scanned ONCE.  Optimal while the vocabulary
      hash-aggregate fits executor memory — i.e. at any single-node scale,
      which is why this is what DuckDB always plans.
    - ``"sketch"`` — the two-pass sketch-pruned plan described below: the
      shape that survives a 100 TB token stream, where the vocabulary-sized
      shuffle (not the scan) is the bottleneck.
    - ``"auto"`` (default) — pick by the optimizer's estimated input size
      (``optimizedPlan().stats().sizeInBytes`` — free, no job): below
      ``sketch_min_bytes`` (8 GiB) the vocabulary aggregate is comfortably
      in-memory and the extra sketch passes are pure overhead; at or above
      it (or when the estimate is unavailable, which Spark reports as
      Long.Max) the constant-shuffle sketch plan wins.  This is the same
      runtime strategy choice AQE makes for joins, applied to an
      aggregation rewrite.

    The sketch strategy finds heavy hitters WITHOUT ever shuffling the full
    vocabulary:

    1. one scan builds a count-min sketch straight from the token stream
       (reduce key space = depth·width cells; map-side combine makes the
       shuffle constant-size, never O(|vocab|));
    2. the tiny sketch is collected and inlined as array literals; a second
       scan probes it per token (est = min over rows, codegen arithmetic)
       and only tokens whose ESTIMATE clears the threshold reach the exact
       groupBy — CMS overestimates only, so pruning loses no true hitter,
       and the exact recount drops the sketch's false positives.

    Net result equals the exact HAVING-count query (the oracle), but the
    vocabulary-sized aggregation only ever sees candidate tokens.

    The tokenized projection is CACHED across the two passes — without it
    the corpus is scanned and re-tokenized twice, which at sf3.0 doubled
    the measured cost.  What caches is the token ARRAYS at document grain
    (one row per doc), not the exploded stream (r11): the explode
    re-derives map-side from cache on each pass, and the doc-grain cache
    is ~an order of magnitude fewer rows to materialize — measured 9.1 s
    → 4.4 s steady at sf3.0 together with the depth change below.  The
    cache is held by the active query scope
    (:func:`flockdb_spark.operators.classes.hold`), which releases it when
    the query ends; at 100 TB use a disk-backed storage level or accept
    the second scan.

    Default sketch shape is depth=1 × width=1024 (r11; was 2×512, the
    textbook's 4×256): the sketch pass fans every token out ``depth``×
    into the cell aggregation, so depth=1 removes the fan-out entirely
    while the same total cell count keeps the expected per-cell collision
    mass at total/width — and a single-row CMS still only OVERestimates,
    so extra false positives cost rows in the exact recount, never
    correctness.

    Output: (word, cnt) with cnt ≥ threshold.
    """
    if strategy == "auto":
        try:
            est = int(
                docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # non-JVM-backed plan: be scale-conservative
            est = 1 << 62
        strategy = "sketch" if est >= sketch_min_bytes else "exact"
    if strategy == "exact":
        counts = hold(
            docs.select(F.explode(tokens(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .cache()
        )
        # coalesce: sum over zero rows is NULL (empty corpus reaches this
        # branch via the 'auto' small-input route)
        total = int(counts.agg(F.coalesce(F.sum("cnt"), F.lit(0))).first()[0])
        thr = max(total * per_mille // 1000, 1)
        return counts.where(F.col("cnt") >= thr)
    if strategy != "sketch":
        raise ValueError(f"unknown strategy {strategy!r}")

    arrs = hold(docs.select(tokens(text_col).alias("_w")).cache())
    toks = arrs.select(F.explode("_w").alias("word"))

    fp = portable_hash("word")
    arms = []
    for r in range(depth):
        a, b = _cms_params(r)
        arms.append(
            F.pmod(F.pmod(fp * F.lit(a) + F.lit(b), F.lit(CMS_MOD)), F.lit(width))
            .cast("int")
            .alias(f"b{r}")
        )
    # pass 1: token stream -> cells (depth x width), collected (tiny)
    cells = (
        toks.select(*arms)
        .select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(r).alias("row"), F.col(f"b{r}").alias("bucket"))
                    for r in range(depth)
                ])
            ).alias("c")
        )
        .groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    grid = [[0] * width for _ in range(depth)]
    for row in cells:
        grid[row["row"]][row["bucket"]] = row["n"]
    # every token lands in exactly one bucket of each row, so row 0's mass
    # IS the total token count — the threshold comes free with the sketch
    # (no separate counting pass over the corpus)
    total = sum(grid[0])
    thr = max(total * per_mille // 1000, 1)

    # pass 2: probe the inlined sketch per token; exact-count survivors only
    probed = toks.select("word", *arms)
    # ONE F.expr per sketch row (not one F.lit per cell): a 1024-wide row
    # as per-element Columns is 1024 py4j round trips of pure driver
    # latency per construction — and x84/x103 construct per bench pass.
    # A single SQL string parses JVM-side in one call (the same literal-
    # construction rule as hybrid_rrf_topk's term map, r11).
    ests = [
        F.element_at(
            F.expr("array(" + ",".join(f"{int(c)}L" for c in grid[r]) + ")"),
            F.col(f"b{r}") + 1,
        )
        for r in range(depth)
    ]
    est = ests[0] if len(ests) == 1 else F.least(*ests)
    return (
        probed.where(est >= thr)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .where(F.col("cnt") >= thr)
    )


def heavy_hitters_sql(per_mille: int = 10, table: str = "documents") -> str:
    """DuckDB twin of :func:`heavy_hitters` — the plain exact formulation
    (the sketch pruning is an execution strategy, not a semantics change)."""
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM {table}
),
thr AS (
  SELECT greatest(count(*) * {int(per_mille)} // 1000, 1) AS t FROM toks
)
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM toks GROUP BY word
HAVING count(*) >= (SELECT t FROM thr)
"""


# ---------------------------------------------------------------------------
# DSIR importance resampling (hashed n-gram data selection)
# ---------------------------------------------------------------------------


def dsir_importance(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 256,
    k: int = 100,
    temperature: float = 0.0,
    seed: int = 1,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style data selection: score every document by its hashed-n-gram
    importance weight against a target domain and keep the top ``k``
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling" — the public recipe behind domain-matched pretraining
    subsets).

    Features are hashed unigrams+bigrams: every token and every adjacent
    token pair maps to one of ``buckets`` cells via the engine-portable
    rolling hash, and two bag-of-buckets unigram models are fit in one
    aggregation — ``p`` over the ``target_source`` slice, ``q`` over the
    whole corpus — with add-1 smoothing.  A document's weight is the sum of
    its grams' per-bucket log ratios ``ln(p_b / q_b)``; the ratio is rounded
    to MICRO units per bucket BEFORE the per-doc sum, so weights are
    integer-exact and order-independent (the score_micro convention every
    scored oracle here uses).

    ``temperature=0`` (the gated shape) is the deterministic limit of the
    paper's Gumbel top-k resample — select the k largest weights outright.
    ``temperature>0`` adds seeded Gumbel noise ``g = -ln(-ln(u))`` with
    ``u`` drawn from a per-doc ``xxhash64(doc_id, seed)`` scramble (pure
    column expressions, reproducible across runs; the avalanche hash
    makes the draws pairwise-uncorrelated across doc_ids, unlike an
    affine map) and selects by ``weight/τ + g`` — sampling
    proportional-to-exp(weight/τ) without replacement, the paper's
    actual draw.  This path is NOT oracle-gated beyond its τ→0 limit
    (xxhash64 is Spark-side); the unit test pins the selection law.

    Plan shape at 100 TB: gram generation is a map-side generator (no
    shuffle); the bucket-model aggregation shuffles ≤ buckets·partitions
    rows after partial agg (CONSTANT-size, never vocabulary-sized — the
    same reduced-keyspace trick as the CMS pass in :func:`heavy_hitters`)
    and is collected to the driver (≤ ``buckets`` rows, bounded); the
    per-bucket log-ratio table is then inlined as a LITERAL array
    (the heavy_hitters probe-literal pattern, r11), so the scoring pass is
    pure map-side — each doc's weight is an ``aggregate`` over its own
    gram array, no explode, no join, no doc-grain shuffle — and the final
    top-k is TakeOrderedAndProject.  Exactly two corpus passes (model fit,
    scoring), nothing corpus-sized is cached or shuffled; the former
    token-stream ``.cache()`` (a 100 TB memory landmine this docstring
    used to apologize for) is gone.

    Determinism requirement (ADVICE r11): the model-fit pass ``collect``\\s
    eagerly and FREEZES the log-ratio table, and the scoring action re-reads
    ``docs`` later — so ``docs`` must be stable between the two passes
    (a deterministic source, e.g. parquet, or a checkpoint).  A gram whose
    bucket was absent from the frozen table scores 0 rather than failing;
    under a stable input that row is unreachable (every bucket probed in
    pass 2 was counted in pass 1 from the same grams), so the hazard is
    exactly — and only — input instability.  Parity note (ADVICE r11): the
    driver-side half-away-from-zero replica of the engines' micro rounding
    is pinned empirically by ``test_dsir_literal_lr_matches_spark_arithmetic``
    and by the oracle at sf0.01/sf0.1 — a count landing within one double
    ulp of a .5 boundary could still diverge by 1 micro between libms; the
    guarantee is empirical, not bit-for-bit universal.

    Output: (doc_id, weight_micro), weight DESC, doc_id ASC, ``k`` rows.
    """
    import math

    w = tokens(text_col)
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(w, pairs)
    bucket_of = lambda g: F.pmod(portable_hash(g), F.lit(buckets)).cast("int")  # noqa: E731
    # pass 1 — model fit: one corpus pass, partial-aggregated to ≤ buckets
    # rows per mapper, collected (bounded by `buckets`, never by the corpus)
    btab = (
        docs.select(
            (F.col(source_col) == target_source).alias("_tgt"),
            F.explode(grams).alias("gram"),
        )
        .groupBy(bucket_of(F.col("gram")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("qc"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("tc"),
        )
        .collect()
    )
    # integer totals are exact; the per-bucket double arithmetic replicates
    # the engines' expression text op-for-op (one product each side, one
    # IEEE divide, one libm ln, half-away-from-zero micro rounding), so the
    # only cross-engine divergence is a last-ulp libm difference swallowed
    # by the micro rounding — the same tolerance the join-shape plan relied
    # on (test_dsir_literal_lr_matches_spark_arithmetic pins parity)
    tt = sum(int(r["tc"]) for r in btab)
    qt = sum(int(r["qc"]) for r in btab)
    lr_arr = [0] * buckets  # buckets absent from the corpus are never probed
    for r in btab:
        x = (
            math.log(
                ((int(r["tc"]) + 1.0) * float(qt + buckets))
                / (float(tt + buckets) * (int(r["qc"]) + 1.0))
            )
            * 1_000_000
        )
        m = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        lr_arr[int(r["bucket"])] = int(m)
    # ONE F.expr per literal (not per-element F.lit — the r11 wide-literal
    # rule: hundreds of py4j round trips otherwise)
    lr_lit = F.expr("array(" + ",".join(f"{v}L" for v in lr_arr) + ")")
    # pass 2 — scoring, pure map-side: Σ lr[bucket(gram)] within each row's
    # own gram array; docs with no grams never reached the old join and
    # stay excluded
    weight = F.aggregate(
        F.transform(grams, lambda g: F.element_at(lr_lit, bucket_of(g) + 1)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    weights = docs.select(
        "doc_id", weight.alias("weight_micro")
    ).where(F.size(grams) >= 1)
    if temperature > 0:
        # seeded Gumbel noise from a per-doc xxhash64 scramble (ADVICE
        # r10: the previous (a·doc_id+b) mod p map is linear — u for
        # sequential doc_ids stepped by a/p in lockstep, far from
        # independent draws; xxhash64 avalanches every input bit).
        # u ∈ (0,1) strictly, so -ln(-ln(u)) is always finite.  NOTE:
        # this path has no DuckDB oracle beyond its temperature→0 limit
        # (x121 gates that limit); the noise law itself is pinned by the
        # distribution unit test only.
        u = (
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(FP_MOD))
            .cast("double")
            + 0.5
        ) / FP_MOD
        key = F.col("weight_micro") / 1e6 / temperature - F.log(-F.log(u))
        out = weights.orderBy(F.desc(key), F.asc("doc_id")).limit(k)
    else:
        out = weights.orderBy(F.desc("weight_micro"), F.asc("doc_id")).limit(k)
    return out


def dsir_importance_sql(
    target_source: str = "src0",
    buckets: int = 256,
    k: int = 100,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dsir_importance` at temperature 0."""
    w = "string_split(text, ' ')"
    pairs = (
        f"list_transform(range(1, greatest(length({w}), 1)), "
        f"i -> concat_ws(chr(32), {w}[i], {w}[i+1]))"
    )
    return f"""
WITH grams AS (
  SELECT doc_id, source = '{target_source}' AS tgt,
         unnest(list_concat({w}, {pairs})) AS gram
  FROM {table}
),
feats AS (
  SELECT doc_id, tgt, {portable_hash_sql('gram')} % {buckets} AS bucket
  FROM grams
),
btab AS (
  SELECT bucket, count(*) AS qc,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
  FROM feats GROUP BY bucket
),
tot AS (SELECT sum(tc) AS tt, sum(qc) AS qt FROM btab),
lr AS (
  SELECT bucket,
         CAST(round(ln(((tc + 1.0) * (qt + {buckets}))
                       / ((tt + {buckets}) * (qc + 1.0))) * 1000000) AS BIGINT)
           AS lr_micro
  FROM btab, tot
)
SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS weight_micro
FROM feats JOIN lr USING (bucket)
GROUP BY doc_id
ORDER BY weight_micro DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Kneser-Ney bigram model counts (LM estimation over the corpus)
# ---------------------------------------------------------------------------

KN_DISCOUNT_NUM, KN_DISCOUNT_DEN = 3, 4  # D = 0.75, the standard KN discount


def _bigram_pairs(docs: DataFrame, text_col: str, with_doc: bool = False) -> DataFrame:
    """Map-side bigram stream (w1, w2) [+ doc_id] via zip-with-tail."""
    w = F.col("_w")
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    head = ["doc_id"] if with_doc else []
    return (
        docs.select(*head, tokens(text_col).alias("_w"))
        .select(*head, F.explode(pairs).alias("p"))
        .select(*head, "p.w1", "p.w2")
    )


def kneser_ney_bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus — the
    n-gram LM estimation pass (the model behind KenLM-style quality/
    perplexity filters, here at bigram order):

        p_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/T

    with D = 3/4, N1+(w1·) = distinct continuations of w1, N1+(·w2) =
    distinct left contexts of w2 (the continuation count that makes KN
    KN), T = total bigram types.  All terms are exact integer micro-units
    with a pinned floor-division order, so any engine replays the same
    table bit-for-bit.

    Shape at 100 TB: bigram generation is map-side (zip-with-tail); one
    shuffle to bigram-type grain; the two marginals re-aggregate FROM the
    type table (vocabulary-sized, not corpus-sized); T is a 1-row
    broadcast.  The final join is type-table × two vocab-sized sides —
    the same keyed-join shape as x47's surprisal.

    Output: (w1, w2, c, p_kn_micro).
    """
    return _kn_from_c12(_bigram_type_counts(docs, text_col))


def _bigram_type_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus → cached bigram-type table (w1, w2, c), held by the active
    query scope.  Cached because every KN marginal (left, continuation,
    total) re-aggregates FROM this table — without the cache each marginal
    would replay the corpus-wide bigram aggregation instead of re-reading
    the vocabulary-sized type table."""
    bg = _bigram_pairs(docs, text_col)
    return hold(bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).cache())


def _kn_from_c12(c12: DataFrame) -> DataFrame:
    # The left marginal (c1, n_follow) and the continuation marginal
    # (n_precede) are WINDOW aggregates over the type table, not separate
    # groupBy tables joined back: each marginal then costs exactly one
    # exchange of the vocabulary-grain c12 (partition by the key, whole-
    # partition frame) instead of an aggregation shuffle PLUS a join
    # shuffle of c12 on the same key.  Net: 4 exchanges -> 2 after the
    # type-count shuffle (VERDICT r10 item 1 — the 3-way vocab join was
    # the only algorithmic >2x survivor at sf3.0).  T stays a 1-row
    # broadcast.  Arithmetic identical (pinned floor-division order).
    from pyspark.sql.window import Window

    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    tt = c12.agg(F.count(F.lit(1)).alias("tt"))
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    return (
        c12.withColumn("c1", F.sum("c").over(w1w))
        .withColumn("n_follow", F.count(F.lit(1)).over(w1w))
        .withColumn("n_precede", F.count(F.lit(1)).over(w2w))
        .join(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "c",
            F.expr(
                f"({dd} * c - {dn}) * 1000000 div ({dd} * c1)"
                f" + (({dn} * n_follow * 1000000 div ({dd} * c1))"
                f"    * (n_precede * 1000000 div tt)) div 1000000"
            ).cast("long").alias("p_kn_micro"),
        )
    )


def kneser_ney_bigrams_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`kneser_ney_bigrams`."""
    w = "string_split(text, ' ')"
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    return f"""
WITH t AS (SELECT {w} AS w FROM {table}),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM t
),
sp AS (SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2 FROM bg),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c) AS c1, count(*) AS n_follow FROM c12 GROUP BY w1),
cont AS (SELECT w2, count(*) AS n_precede FROM c12 GROUP BY w2),
tt AS (SELECT count(*) AS tt FROM c12)
SELECT c12.w1, c12.w2, c12.c,
       CAST(({dd} * c - {dn}) * 1000000 // ({dd} * c1)
            + (({dn} * n_follow * 1000000 // ({dd} * c1))
               * (n_precede * 1000000 // tt)) // 1000000 AS BIGINT) AS p_kn_micro
FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN tt
"""


def kn_surprisal(
    train: DataFrame, score: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Held-out LM quality scoring: each ``score`` document's mean inverse
    Kneser-Ney bigram probability under a model estimated from ``train`` —
    the perplexity-filter shape (train the cheap LM on the corpus, score
    candidate documents, gate on the score), with real OOV handling, which
    is exactly what x47's self-trained frequency ratio cannot do:

    - bigram seen in train:  p = p_kn (x91's interpolated estimate)
    - unseen bigram, seen context w1:  p = λ(w1)·p_cont(w2) (pure backoff)
    - unseen context:  p = p_cont(w2) (continuation unigram)
    - everything floors at 1 micro so unseen-everything stays finite.

    Score = mean of (10¹² div p_micro) over the document's bigrams —
    exact integers, engine-portable.  Low = fluent in-distribution text;
    high = OOV-dense or shuffled.

    Shape at 100 TB: model tables are vocabulary-sized aggregates of the
    train corpus; scoring is one explode + three keyed joins against them
    (broadcastable when the vocab is small, shuffle joins otherwise —
    Catalyst/AQE decides from stats) and one agg back to doc grain.

    Output: (doc_id, n_bigrams, kn_surprisal).
    """
    c12 = _bigram_type_counts(train, text_col)
    model = _kn_from_c12(c12).select("w1", "w2", "p_kn_micro")
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    lam = (
        c12.groupBy("w1")
        .agg(F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n_follow"))
        .select(
            "w1",
            F.expr(f"{dn} * n_follow * 1000000 div ({dd} * c1)").alias("lam_micro"),
        )
    )
    tt = c12.agg(F.count(F.lit(1)).alias("tt"))
    pc = (
        c12.groupBy("w2")
        .agg(F.count(F.lit(1)).alias("n_precede"))
        .join(F.broadcast(tt))
        .select("w2", F.expr("n_precede * 1000000 div tt").alias("pcont_micro"))
    )
    sd = _bigram_pairs(score, text_col, with_doc=True)
    joined = (
        sd.join(model, ["w1", "w2"], "left")
        .join(lam, "w1", "left")
        .join(pc, "w2", "left")
        .select(
            "doc_id",
            F.expr(
                "greatest(CASE"
                " WHEN p_kn_micro IS NOT NULL THEN p_kn_micro"
                " WHEN lam_micro IS NOT NULL THEN"
                "   (lam_micro * coalesce(pcont_micro, 0)) div 1000000"
                " ELSE coalesce(pcont_micro, 0) END, 1)"
            ).alias("p"),
        )
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(1000000000000 div p) div count(*)")
        .cast("long")
        .alias("kn_surprisal"),
    )


def kn_surprisal_sql(
    table: str = "documents", train_pred: str = "doc_id % 10 <> 0"
) -> str:
    """DuckDB twin of :func:`kn_surprisal` with train/score split by
    ``train_pred`` over ``table``."""
    w = "string_split(text, ' ')"
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    return f"""
WITH tr AS (SELECT {w} AS w FROM {table} WHERE {train_pred}),
trbg AS (
  SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM tr
),
trsp AS (SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2 FROM trbg),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM trsp GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c) AS c1, count(*) AS n_follow FROM c12 GROUP BY w1),
cont AS (SELECT w2, count(*) AS n_precede FROM c12 GROUP BY w2),
tt AS (SELECT count(*) AS tt FROM c12),
model AS (
  SELECT c12.w1, c12.w2,
         ({dd} * c - {dn}) * 1000000 // ({dd} * c1)
           + (({dn} * n_follow * 1000000 // ({dd} * c1))
              * (n_precede * 1000000 // tt)) // 1000000 AS p_kn_micro
  FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN tt
),
lam AS (SELECT w1, {dn} * n_follow * 1000000 // ({dd} * c1) AS lam_micro FROM c1),
pc AS (SELECT w2, n_precede * 1000000 // tt AS pcont_micro FROM cont CROSS JOIN tt),
sc AS (SELECT doc_id, {w} AS w FROM {table} WHERE NOT ({train_pred})),
scbg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM sc
),
sd AS (SELECT doc_id, string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2 FROM scbg),
j AS (
  SELECT sd.doc_id,
         greatest(CASE
           WHEN m.p_kn_micro IS NOT NULL THEN m.p_kn_micro
           WHEN l.lam_micro IS NOT NULL THEN
             (l.lam_micro * coalesce(p.pcont_micro, 0)) // 1000000
           ELSE coalesce(p.pcont_micro, 0) END, 1) AS p
  FROM sd
  LEFT JOIN model m ON sd.w1 = m.w1 AND sd.w2 = m.w2
  LEFT JOIN lam l ON sd.w1 = l.w1
  LEFT JOIN pc p ON sd.w2 = p.w2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(1000000000000 // p) // count(*) AS BIGINT) AS kn_surprisal
FROM j GROUP BY doc_id
"""


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Collocation (multi-word-expression) extraction: adjacent word pairs
    ranked by pointwise lift c(w1,w2)·T / (c(w1·)·c(·w2)) over the bigram
    table — the phrase-detection pass (word2vec-phrases style) that decides
    which pairs become single tokens before tokenizer training.

    All marginals are taken over the bigram table itself (left marginal
    c(w1·), right marginal c(·w2), total T), so the statistic needs no
    second corpus pass.  Integer micro-lift with a pinned floor order —
    ``(c·10⁶ div c1)·T div c2`` — evaluated with the middle product
    widened to decimal(38,0) on BOTH engines (HUGEINT in the DuckDB twin),
    because ``(c·10⁶ div c1)`` ≤ 10⁶ times T overflows int64 once the
    corpus passes T > 2⁶³/10⁶ ≈ 9.2e12 bigram tokens (a ~100 TB corpus has
    ~2e13).  The RESULT must still fit int64: lift ≤ 10⁶·T div c2, which
    holds whenever T div c2 ≤ 9.2e12 — guaranteed by ``min_count`` ≥ 5 up
    to T ≈ 4.6e13 and checked by the final cast (null on overflow rather
    than silent wrap).

    Shape at 100 TB: one shuffle to bigram-type grain; the marginals
    re-aggregate from the type table; top-k is a TakeOrdered (no global
    sort).  Output: (w1, w2, c, lift_micro), ties broken on (w1, w2).
    """
    c12 = _bigram_type_counts(docs, text_col)
    left = c12.groupBy("w1").agg(F.sum("c").alias("c1"))
    right = c12.groupBy("w2").agg(F.sum("c").alias("c2"))
    tt = c12.agg(F.sum("c").alias("tt"))
    scored = (
        c12.where(F.col("c") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .join(F.broadcast(tt))  # 1-row total: broadcast, never a cross shuffle
        .select(
            "w1",
            "w2",
            "c",
            # decimal(38,0) middle product: see docstring's overflow bound
            F.expr("CAST(c * 1000000 div c1 AS DECIMAL(38,0)) * tt div c2")
            .cast("long")
            .alias("lift_micro"),
        )
    )
    return scored.orderBy(
        F.desc("lift_micro"), F.asc("w1"), F.asc("w2")
    ).limit(top_k)


def collocations_sql(
    min_count: int = 5, top_k: int = 100, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`collocations`."""
    w = "string_split(text, ' ')"
    return f"""
WITH t AS (SELECT {w} AS w FROM {table}),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> concat_ws(chr(32), w[i], w[i+1]))) AS pair
  FROM t
),
sp AS (SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2 FROM bg),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY w1, w2),
l AS (SELECT w1, sum(c) AS c1 FROM c12 GROUP BY w1),
r AS (SELECT w2, sum(c) AS c2 FROM c12 GROUP BY w2),
tt AS (SELECT sum(c) AS tt FROM c12)
SELECT c12.w1, c12.w2, c12.c,
       -- HUGEINT middle product: (c*1e6//c1) <= 1e6 times tt overflows
       -- int64 past ~9.2e12 bigrams (same widening as the Spark side)
       CAST((c * 1000000 // c1) * CAST(tt AS HUGEINT) // c2 AS BIGINT) AS lift_micro
FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt
WHERE c >= {int(min_count)}
ORDER BY lift_micro DESC, w1 ASC, w2 ASC
LIMIT {int(top_k)}
"""
