"""Deduplication operators for a large-scale training-data pipeline.

Four tiers, cheapest → smartest:

- exact: hash-groupBy on content — one shuffle, the 100 TB first pass
- n-gram Jaccard: exact set similarity over word shingles (explode →
  self-join on shingle → count / union) — quadratic only within shingle
  buckets, which is what makes it feasible at scale
- MinHash + LSH: per-doc signature via k independent xxhash64 permutations,
  banded into buckets; candidate pairs only within buckets — the sub-quadratic
  scale path (xxhash64 is JVM-side and vectorized; no Python in the loop)
- SimHash: 64-bit near-dup signature from word hashes; Hamming buckets

All are DataFrame compositions — no UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.classes import hold
from .text import tokens


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact duplicate groups: per distinct content keep the smallest id and
    the duplicate count.  One hash aggregation — the always-first pass.

    ``hash_mode='xxhash64'`` (default) groups on the 64-bit content hash so
    the shuffle carries (8-byte key, id) instead of document bodies — 2×
    faster at sf3.0 locally and the only viable shape at 100 TB.  A hash
    collision merges two distinct documents into one dup group
    (P ≈ n²/2⁶⁵ — ~3·10⁻¹⁰ even at 10⁹ docs); the correctness gate compares
    this path's output against a GROUP BY text oracle, so the equivalence
    is value-checked, not assumed.  ``hash_mode='exact'`` groups on the
    body itself for collision-free runs."""
    key = F.col(text_col) if hash_mode == "exact" else F.xxhash64(F.col(text_col))
    return df.groupBy(key.alias("_k")).agg(
        F.min(id_col).alias("kept_doc_id"),
        F.count(F.lit(1)).cast("long").alias("dup_count"),
    ).select("kept_doc_id", "dup_count")


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Gram generation runs through ``pyspark.ml.feature.NGram`` — a compiled
    JVM transform — instead of an array-HOF expression (``transform`` +
    ``concat_ws``/``slice``), which Spark interprets per element; on a
    whole-corpus pass the compiled path measured ~6× faster with an
    identical output multiset (both join tokens with a single space and
    emit nothing for docs shorter than ``n`` tokens)."""
    from pyspark.ml.feature import NGram

    tok = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_w"))
    grams = NGram(n=n, inputCol="_w", outputCol="_g").transform(tok)
    return grams.select(
        "doc_id", F.explode(F.array_distinct("_g")).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (a < b).

    |A∩B| from a self-join on shingle; |A∪B| = |A|+|B|−|A∩B|.  The join is
    keyed on the shingle, so cost scales with shingle-bucket sizes, not the
    full cross product.  Jaccard is emitted in exact integer
    micro-units (inter*1e6 // union) to stay engine-portable.

    ``max_shingle_df`` is the 100 TB guard (SCALE.md §4): a shingle occurring
    in d documents contributes O(d²) join pairs, and no partitioning fixes
    quadratic OUTPUT — so shingles with document frequency > cap are dropped
    from pair GENERATION (sizes still count them, keeping |A|,|B| exact; the
    reported intersection becomes a lower bound, biased only for pairs whose
    overlap is dominated by corpus-ubiquitous shingles — exactly the pairs
    near-dup detection should ignore).  None = exact (the oracle-checked
    configuration).

    Cache lifetime: with ``max_shingle_df`` set the shingle table is cached
    (it feeds three consumers) and held by the active query scope
    (:func:`flockdb_spark.operators.classes.hold`), which releases it when
    the query ends; with no scope active it stays cached until
    ``spark.catalog.clearCache()``.
    """
    sh = word_shingles(df, n, text_col, id_col)
    if max_shingle_df is not None:
        sh = hold(sh.cache())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pair_sh = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        pair_sh = sh.join(rare, "shingle", "left_semi")
    a = pair_sh.select(F.col("doc_id").alias("a"), "shingle")
    b = pair_sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn(
            "jaccard_micro",
            F.expr("(n_inter * 1000000) div n_union"),
        )
        .where(F.col("jaccard_micro") >= int(threshold * 1_000_000))
    )
    return out.select("a", "b", "n_inter", "n_union", "jaccard_micro")


# -- MinHash + LSH -----------------------------------------------------------
#
# Two hash modes everywhere in this family:
# - "xxhash64": the production path — JVM-intrinsic, vectorized, best
#   avalanche; not expressible in other engines (rows-only checkable)
# - "portable": one rolling hash per shingle (text.portable_hash) scrambled
#   through num_hashes universal-hash variants h_i = (a_i·fp + b_i) mod p —
#   bit-for-bit reproducible in DuckDB, which is what the oracle checks.
#   The structure (explode → groupBy-min → band join) is IDENTICAL, so the
#   oracle verifies the operator's logic, not just one hash function.

FP_MOD = 1_000_000_007


def _uh_params(i: int) -> tuple[int, int]:
    """Deterministic universal-hash multipliers (a_i ≠ 0, both < FP_MOD, so
    a_i·fp stays under 2^63)."""
    a = (2654435761 * (i + 1)) % FP_MOD or 1
    b = (40503 * (i + 1) + 17) % FP_MOD
    return a, b


def uh_sql(fp_expr: str, i: int) -> str:
    """DuckDB twin of the i-th universal-hash scramble."""
    a, b = _uh_params(i)
    return f"(({fp_expr} * {a} + {b}) % {FP_MOD})"


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig: array<long>) — element i is min over shingles of the
    i-th hash of the shingle.  One explode + one groupBy."""
    sh = word_shingles(df, n, text_col, id_col)
    if hash_mode == "portable":
        from .text import portable_hash

        # stage the rolling hash so it computes once per shingle; the
        # num_hashes scrambles are cheap integer expressions over the column
        sh = sh.select("doc_id", portable_hash("shingle").alias("_fp"))
        fp = F.col("_fp")
        mins = []
        for i in range(num_hashes):
            a, b = _uh_params(i)
            mins.append(F.min(F.pmod(fp * a + b, F.lit(FP_MOD))).alias(f"h{i}"))
    else:
        mins = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(doc_id, band, bucket) — each signature exploded into its LSH band
    buckets (rows = num_hashes/bands positions per band).  Portable mode
    keys the bucket on the band's literal value tuple so a SQL oracle can
    re-derive it; production mode compresses it through xxhash64."""
    rows = num_hashes // bands

    def band_bucket(bi: int) -> F.Column:
        cols = [F.col("sig")[bi * rows + r] for r in range(rows)]
        if hash_mode == "portable":
            return F.concat_ws("|", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols).cast("string")

    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), band_bucket(bi).alias("bucket"))
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig: DataFrame | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band bucket.

    rows = num_hashes/bands; P(candidate) ≈ 1-(1-j^rows)^bands.  The band
    bucket join replaces the quadratic pair enumeration — this is the piece
    that survives 100 TB.

    ``sig``: precomputed ``minhash_signatures`` output to share across the
    candidate and estimate passes (signature computation is the dominant
    cost; cache it once, use it twice).  Pass the same ``hash_mode`` used to
    build it: the portable mode keys buckets on the band's literal value
    tuple (engine-portable) instead of an xxhash64 of it.
    """
    if sig is None:
        sig = minhash_signatures(df, num_hashes, n, text_col, id_col, hash_mode)
    banded = minhash_band_buckets(sig, num_hashes, bands, hash_mode)
    a = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_estimate_jaccard(
    df: DataFrame, pairs: DataFrame, num_hashes: int = 32, sig: DataFrame | None = None, **kw
) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of matching signature
    positions.  Pass the same cached ``sig`` used for candidate generation."""
    if sig is None:
        sig = minhash_signatures(df, num_hashes, **kw)
    sa = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "n_matches",
            F.size(
                F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
            ).cast("long"),
        )
        .select(
            "a",
            "b",
            "n_matches",
            (F.col("n_matches") / F.lit(num_hashes)).alias("est_jaccard"),
            F.expr(f"(n_matches * 1000000) div {num_hashes}").alias("est_jaccard_micro"),
        )
    )


def resolve_duplicates(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Turn near-dup PAIRS into a keep/drop decision: connected components by
    min-label propagation; every document maps to the smallest doc_id in its
    duplicate cluster (the canonical survivor).

    Iterative join+min like PageRank, ACCELERATED by pointer jumping: each
    round first takes the min over neighbours (one hop), then follows its
    own label's label (path halving) — the min label's reach roughly
    doubles per round, so convergence is **O(log diameter)**, not
    O(diameter).  Plain hop-propagation silently returned unconverged
    (wrong) labels on components deeper than the iteration cap — measured
    at sf3.0, where near-dup chains exceed 20 hops (the r7 sf3 sweep
    caught x98 against the oracle's exact recursive reach).  With jumping,
    20 rounds covers diameter ~2²⁰; if the fixpoint is still not reached
    the function now raises instead of returning wrong labels.  Cost: one
    extra labels-sized shuffle per round, against exponentially fewer
    rounds — the correct trade at 100 TB, where rounds are the scarce
    resource.

    Input: (a, b) pairs with a < b.  Output: (doc_id, canonical_id) for every
    id that appears in any pair.
    """
    und = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .cache()
    )
    labels = und.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            und.join(labels.select(F.col("id").alias("src"), "label"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        hopped = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"))
        )
        # pointer jumping: label ← min(label, label-of-label).  Every label
        # value is itself an id in the table (labels start as ids and only
        # ever take mins of other labels), so the self-join is total.
        jumped = (
            hopped.alias("x")
            .join(
                hopped.select(
                    F.col("id").alias("label"), F.col("label").alias("ll")
                ).alias("y"),
                "label",
                "left",
            )
            .select(
                "id", F.least(F.col("label"), F.coalesce("ll", "label")).alias("label")
            )
        )
        new_labels = jumped.localCheckpoint(eager=True)  # truncate iteration lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"resolve_duplicates did not converge in {max_iterations} pointer-"
            f"jumping rounds (component diameter > 2^{max_iterations}) — "
            "raise max_iterations; refusing to return wrong labels"
        )
    # labels is eagerly localCheckpointed (independent of und's lineage), so
    # the pair cache can be released here; per-iteration checkpoint RDDs are
    # reclaimed by the ContextCleaner as their frames go out of scope
    und.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("canonical_id"))


def resolve_duplicates_sql(
    rounds: int = 20, id_alias: str = "doc_id", lab_alias: str = "canonical_id"
) -> tuple[str, str]:
    """DuckDB twin of :func:`resolve_duplicates`, as ``(cte_chain,
    final_select)`` expecting a ``pairs(a, b)`` CTE in scope.

    Restated bounded-iteration (r8, VERDICT r7 item 2): the original twin
    was a recursive-CTE transitive closure (every (node, reachable-root)
    pair materializes — O(Σ component²) rows), which never finished on
    x38's 1.9M-pair graph at sf3.0.  This form unrolls the EXACT Spark
    algorithm instead — ``rounds`` iterations of hop (min label over
    neighbours) + pointer jump (label-of-label), each MATERIALIZED, so the
    cost is rounds·|E| streamed rows and convergence is O(log diameter),
    identical to the Spark side's 20-round cap.  One extra round feeds a
    NON-CONVERGENCE SENTINEL: if labels still move after ``rounds``, a
    (-1, -1) row is emitted and the gate fails loudly — the twin of the
    Spark side's RuntimeError, never silently-wrong labels."""
    parts = [
        """und AS MATERIALIZED (
  SELECT DISTINCT a AS src, b AS dst FROM pairs
  UNION
  SELECT b, a FROM pairs
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT src AS id, src AS lab FROM und
)"""
    ]
    for r in range(1, rounds + 2):  # +1 sentinel round
        parts.append(
            f"""hop{r} AS MATERIALIZED (
  SELECT l.id, least(l.lab, coalesce(nm.nl, l.lab)) AS lab
  FROM lab{r - 1} l LEFT JOIN (
    SELECT e.dst AS id, min(l2.lab) AS nl
    FROM und e JOIN lab{r - 1} l2 ON e.src = l2.id
    GROUP BY e.dst
  ) nm ON l.id = nm.id
),
lab{r} AS MATERIALIZED (
  SELECT x.id, least(x.lab, coalesce(y.lab, x.lab)) AS lab
  FROM hop{r} x LEFT JOIN hop{r} y ON x.lab = y.id
)"""
        )
    final = f"""SELECT id AS {id_alias}, lab AS {lab_alias} FROM lab{rounds}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM (SELECT 1 FROM lab{rounds + 1} n JOIN lab{rounds} o
      ON n.id = o.id AND n.lab <> o.lab LIMIT 1)"""
    return ",\n".join(parts), final


# -- SimHash -----------------------------------------------------------------

#: combined portable feature hash: low 30 bits from the seed-0 rolling hash,
#: bits 30..47 from the seed-1 hash — (fp0 + fp1·2^30) stays well inside
#: int64 (max ≈ 1.07e18) and gives 48 usable signature bits on any engine
PH_SHIFT = 1 << 30


def simhash(
    df: DataFrame,
    bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash) — classic Charikar simhash over feature hashes: bit p
    of the signature is the sign of Σ_features (±1 by bit p of hash(f)).

    ``shingle_n=None`` hashes distinct words (bag-of-words similarity);
    ``shingle_n=k`` hashes word k-grams, making the measure order-sensitive —
    the right setting for near-dup detection over a homogeneous corpus where
    everything shares vocabulary.

    ``hash_mode="portable"`` uses two seeded rolling hashes combined into a
    48-bit feature hash (``fp0 + fp1·2^30``) — the DuckDB-checkable twin of
    the production xxhash64 path; structure identical.

    One shuffle-free projection: the feature-hash array is STAGED (computed
    once per row), then the per-bit vote aggregates reference the
    materialized column — a fused expression would re-evaluate the hash
    array once per bit.  48 bits keeps 1<<p in signed-long range.
    """
    if shingle_n is None:
        w = F.array_distinct(tokens(text_col))
    else:
        t = tokens(text_col)
        w = F.array_distinct(
            F.when(
                F.size(t) >= shingle_n,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - shingle_n),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, shingle_n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    if hash_mode == "portable":
        from .text import portable_hash

        hashes = F.transform(
            w, lambda s: portable_hash(s, 0) + portable_hash(s, 1) * F.lit(PH_SHIFT)
        )
    else:
        hashes = F.transform(w, lambda s: F.xxhash64(s))
    staged = df.select(F.col(id_col).alias("doc_id"), hashes.alias("_hs"))
    hs = F.col("_hs")

    def bit_vote(p: int):
        # closure (not a default arg: pyspark counts lambda params strictly)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, p).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for p in range(bits):
        s_p = F.aggregate(hs, F.lit(0), bit_vote(p))
        sig = sig.bitwiseOR(
            F.when(s_p > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return staged.select("doc_id", sig.alias("simhash"))


def simhash_neardup_pairs(
    sig: DataFrame, max_hamming: int = 3, bits: int = 48
) -> DataFrame:
    """Near-dup pairs from a ``simhash`` table by Hamming distance, without a
    quadratic comparison: split each signature into ``max_hamming + 1``
    chunks — two signatures within distance ``max_hamming`` must agree on at
    least one whole chunk (pigeonhole), so candidate pairs come from a
    chunk-bucket join and only candidates pay the exact popcount.

    Output: (a, b, hamming) with a < b, hamming ≤ max_hamming."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright("simhash", ci * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for ci in range(n_chunks)
                ]
            )
        ).alias("cb"),
    ).select("doc_id", "simhash", "cb.chunk", "cb.val")
    a = banded.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"), "chunk", "val")
    b = banded.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"), "chunk", "val")
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.expr("sig_a ^ sig_b")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for every training document, count how many
    of its distinct word ``n``-gram shingles also occur in the evaluation
    set, and flag documents with ``>= min_hits`` overlapping shingles as
    contaminated — the standard leakage gate run before a pretraining corpus
    ships.

    Scale shape: the eval set is small by construction (benchmarks are
    thousands of documents, the corpus is billions), so its distinct-shingle
    table is broadcast; the corpus-side shingle stream LEFT-joins it
    map-side with no shuffle, and the only shuffle is the per-document hit
    count on ``doc_id`` (map-side partial agg → doc-grain rows).  The
    scoring pass is its own zero-fill spine: grams explode with
    ``explode_outer``, so a short/empty document carries one null-gram row
    straight into the aggregation — the old corpus-side spine join (a
    second corpus scan plus a doc-grain join whose small-SF plan broadcast
    the DOC-GRAIN hits table, an estimate that degrades to a corpus SMJ at
    scale) is gone (r12).  Output: (doc_id, n_eval_shingles,
    is_contaminated) for ALL training docs, zero-filled so the gate is a
    plain filter downstream.
    """
    from pyspark.ml.feature import NGram

    # same gram stream as word_shingles, but explode_OUTER so every
    # training document reaches the aggregation (null gram never matches
    # the eval join, so it scores 0 — exactly the old spine's zero-fill)
    tok = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_w"))
    grams = NGram(n=n, inputCol="_w", outputCol="_g").transform(tok)
    train_sh = grams.select(
        "doc_id", F.explode_outer(F.array_distinct("_g")).alias("shingle")
    )
    eval_sh = (
        word_shingles(eval_docs, n, text_col, id_col)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count("_hit").cast("long").alias("n_eval_shingles"))
        .select(
            "doc_id",
            "n_eval_shingles",
            (F.col("n_eval_shingles") >= min_hits).cast("long").alias("is_contaminated"),
        )
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    min_est_jaccard_micro: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag training documents whose
    MinHash-estimated Jaccard against ANY evaluation document reaches
    ``min_est_jaccard_micro`` — the leakage gate for eval items that were
    paraphrased, truncated, or lightly edited into the corpus, which the
    exact n-gram gate (:func:`decontaminate`) misses as soon as one token
    differs per shingle window.

    Scale shape mirrors :func:`decontaminate`: the eval side is benchmarks
    (thousands of rows), so its signatures AND band buckets broadcast; the
    corpus is signed in one explode+groupBy pass, its band buckets join
    map-side, and only candidate (train, eval) pairs — not the corpus —
    reach the signature-compare stage.  Output: every training doc as
    (doc_id, n_flagged_evals, max_est_jaccard_micro, is_contaminated),
    zero-filled, same downstream-filter contract as the exact gate.
    """
    sig_t = minhash_signatures(docs, num_hashes, n, text_col, id_col, hash_mode)
    sig_e = minhash_signatures(eval_docs, num_hashes, n, text_col, id_col, hash_mode)
    banded_t = minhash_band_buckets(sig_t, num_hashes, bands, hash_mode)
    banded_e = minhash_band_buckets(sig_e, num_hashes, bands, hash_mode).select(
        F.col("doc_id").alias("eval_id"), "band", "bucket"
    )
    cand = (
        banded_t.join(F.broadcast(banded_e), ["band", "bucket"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    sa = sig_t.select("doc_id", F.col("sig").alias("sig_t"))
    se = sig_e.select(F.col("doc_id").alias("eval_id"), F.col("sig").alias("sig_e"))
    est = (
        cand.join(sa, "doc_id")
        .join(F.broadcast(se), "eval_id")
        .withColumn(
            "_m",
            F.size(
                F.filter(F.zip_with("sig_t", "sig_e", lambda x, y: x == y), lambda m: m)
            ).cast("long"),
        )
        .withColumn("_est", F.expr(f"(_m * 1000000) div {num_hashes}"))
        .where(F.col("_est") >= min_est_jaccard_micro)
    )
    hits = est.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged_evals"),
        F.max("_est").alias("max_est_jaccard_micro"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_flagged_evals", F.lit(0)).alias("n_flagged_evals"),
            F.coalesce("max_est_jaccard_micro", F.lit(0)).alias(
                "max_est_jaccard_micro"
            ),
            (F.coalesce("n_flagged_evals", F.lit(0)) >= 1)
            .cast("long")
            .alias("is_contaminated"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    window: int = 20,
    stride: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplicate detection: slide a ``window``-token window
    with ``stride`` over every document, count each window's occurrences
    across the WHOLE corpus, and report per document how many of its
    windows are duplicated somewhere (including other documents) — the
    bucketed approximation of suffix-array exact-substring dedup that
    catches shared boilerplate paragraphs, licensing blocks, and copy-paste
    spans that document-level MinHash (x03) is blind to.

    ``hash_mode='xxhash64'`` shuffles 8-byte window keys (the production
    path); ``'exact'`` shuffles the window strings themselves — collision
    free, and what the DuckDB gate uses so the compare stays value-exact.

    Scale shape (100 TB): windows explode map-side (≤ n_tokens/stride rows
    per doc); occurrence counting is ONE shuffle with map-side combine; the
    flag-back join re-uses the window-key partitioning, and the per-doc
    rollup is one more id-keyed shuffle.  Documents shorter than ``window``
    tokens carry zero windows and survive via the left join.
    Output: (doc_id, n_windows, n_dup_windows, dup_pm).
    """
    w = F.split(F.col(text_col), " ")
    starts = F.when(
        F.size(w) >= window,
        F.sequence(F.lit(1), F.size(w) - window + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(w, i, window)))
    exploded = docs.select(F.col(id_col), F.explode(wins).alias("win"))
    key = F.xxhash64("win") if hash_mode == "xxhash64" else F.col("win")
    keyed = exploded.select(id_col, key.alias("wkey"))
    counts = keyed.groupBy("wkey").agg(F.count(F.lit(1)).alias("occurrences"))
    per_doc = (
        keyed.join(counts, "wkey")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum((F.col("occurrences") > 1).cast("long")).cast("long").alias("n_dup_windows"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(F.floor(F.col("n_dup_windows") * 1000 / F.col("n_windows")))
            .cast("long")
            .alias("dup_pm"),
        )
    )


def duplicated_spans_sql(window: int = 20, stride: int = 10) -> str:
    """DuckDB twin of :func:`duplicated_spans` (exact window-string keys)
    over ``documents``."""
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
wins AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, length(w) - {window} + 2, {stride}),
           i -> array_to_string(list_slice(w, i, i + {window} - 1), ' ')
         )) AS win
  FROM d WHERE length(w) >= {window}
),
counts AS (SELECT win, count(*) AS occurrences FROM wins GROUP BY win),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN c.occurrences > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM wins JOIN counts c USING (win)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_windows, 0) AS n_windows,
       coalesce(p.n_dup_windows, 0) AS n_dup_windows,
       CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0
            ELSE CAST(p.n_dup_windows * 1000 // p.n_windows AS BIGINT) END AS dup_pm
FROM d LEFT JOIN per_doc p USING (doc_id)
"""


def source_overlap(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair (a < b), the
    number of DISTINCT word ``n``-gram shingles the two sources share — the
    audit a multi-source training mix runs to find corpora that are secretly
    copies of each other (or of a benchmark) before fixing mixture weights.

    Scale shape (100 TB): ONE exploded pass collapses straight to the
    per-shingle source SET (``collect_set`` — partial-aggregated map-side,
    and bounded per row by the number of sources, not by corpus size), so
    the corpus crosses exactly one exchange; the source pairs a shingle
    witnesses are generated map-side from its own sorted set, and the final
    pair count is a trivially small second exchange.  No self-join, and —
    unlike the r9 shape — no broadcast/shuffle of a SECOND
    corpus-vocabulary-sized distinct (source, shingle) table, which was
    this operator's real 100 TB landmine (the join's build side).

    Output: (source_a, source_b, n_shared).
    """
    # shingle the corpus keyed DIRECTLY on the source column (r9): the
    # doc→source join died then; word_shingles distinct-ifies per ROW and
    # collect_set collapses the rest, so each shingle's witness set — and
    # with it every pair count — is identical to the old
    # distinct-then-self-join formulation (r12 plan rewrite).
    src_sets = (
        word_shingles(docs, n, text_col, id_col=source_col)
        .select(F.col("doc_id").alias("_src"), "shingle")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set("_src")).alias("_srcs"))
        .where(F.size("_srcs") >= 2)
    )
    # all (a < b) pairs of the sorted set, map-side: element i pairs with
    # every later element (slice is 1-based; i is 0-based)
    pairs = src_sets.select(
        F.expr(
            "inline(flatten(transform(_srcs, (x, i) -> "
            "transform(slice(_srcs, i + 2, size(_srcs)), y -> "
            "named_struct('source_a', x, 'source_b', y)))))"
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )


def source_overlap_sql(n: int = 3, table: str = "documents") -> str:
    """DuckDB twin of :func:`source_overlap` (word trigrams by default)."""
    assert n == 3, "oracle twin is written for trigrams"
    w = "string_split(text, ' ')"
    tri = (
        f"list_transform(range(1, length({w}) - 1), "
        f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2]))"
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT source AS src, unnest(list_distinct({tri})) AS shingle
  FROM {table}
)
SELECT a.src AS source_a, b.src AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b USING (shingle)
WHERE a.src < b.src
GROUP BY a.src, b.src
"""


def dedup_spans_rewrite(
    docs: DataFrame,
    seg_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-span REMOVAL with text rewrite — the C4/RefinedWeb-style
    pass that deletes every globally-duplicated span from the corpus while
    keeping its first occurrence, and emits the cleaned text (where
    :func:`~flockdb_spark.functions.text.duplicated_spans` only counts).

    Documents segment into consecutive non-overlapping ``seg_words``-word
    spans; a span instance survives iff it is the FIRST occurrence of that
    span corpus-wide (first by (doc_id, seg_idx) — deterministic); the
    document is reassembled from its surviving spans in order.

    Scale shape (100 TB): one shuffle keyed on the span content (the
    global first-occurrence window — same spillable sort-window shape as
    the x59 inverted index), then one doc-keyed aggregation whose
    ``collect_list`` holds only the doc's own spans — bounded by document
    length, not corpus size.  Pair generation never happens; dedup is by
    grouping, not joining.

    Output: (doc_id, clean_text, n_kept, n_dropped).
    """
    segs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast((size(split({text_col}, ' ')) - 1) / {seg_words} as int)),"
                f" s -> concat_ws(' ', slice(split({text_col}, ' '), s * {seg_words} + 1, {seg_words})))"
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn("_keep", F.row_number().over(w) == 1)
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN _keep THEN struct(seg_idx, seg) END)),"
                " x -> x.seg)"
            ),
        ).alias("clean_text"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.col("_keep").cast("long")))
        .cast("long")
        .alias("n_dropped"),
    )


def dedup_spans_rewrite_sql(seg_words: int = 8, table: str = "documents") -> str:
    """DuckDB twin of :func:`dedup_spans_rewrite`."""
    w = "string_split(text, ' ')"
    return f"""
WITH t AS (SELECT doc_id, {w} AS w FROM {table}),
segs AS (
  SELECT doc_id, s AS seg_idx,
         array_to_string(w[s * {seg_words} + 1 : s * {seg_words} + {seg_words}], ' ') AS seg
  FROM t, UNNEST(range(0, ((length(w) - 1) // {seg_words}) + 1)) AS u(s)
),
marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep
  FROM segs
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '') AS clean_text,
       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
       CAST(count(*) - count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_dropped
FROM marked GROUP BY doc_id
"""


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Continuous-ingestion dedup: flag each document of an incoming
    ``batch`` against the existing ``corpus`` AND against the batch itself —
    the pass an always-on crawl pipeline runs on every new shard before
    appending it (x01 dedups a corpus in place; this dedups a delta).

    A batch doc is ``dup_of_corpus`` if its content already exists in the
    corpus, ``dup_in_batch`` if an earlier batch doc (lower id) has the same
    content, and ``kept`` iff neither.

    Scale shape (100 TB corpus, small-to-any batch): the corpus collapses
    to its distinct content-hash table (one hash agg; at a steady state
    this table is the maintained dedup index, not recomputed), the batch
    dedups within itself via one content-keyed window, and the
    corpus-membership probe is a left join on the 8-byte hash that AQE
    broadcasts whenever the batch side is small.

    ``hash_mode='xxhash64'`` (production) keys on the 64-bit content hash;
    ``hash_mode='exact'`` keys on the body (gate mode, bit-identical to
    the SQL oracle).  Output: (doc_id, dup_of_corpus, dup_in_batch, kept).
    """
    if hash_mode == "exact":
        def content(c):
            return F.col(c)
    elif hash_mode == "xxhash64":
        def content(c):
            return F.xxhash64(F.col(c))
    else:
        raise ValueError(f"hash_mode must be 'xxhash64' or 'exact', got {hash_mode!r}")
    corpus_h = corpus.select(content(text_col).alias("_h")).distinct()
    batch_h = batch.select(F.col(id_col).alias("doc_id"), content(text_col).alias("_h"))
    w = Window.partitionBy("_h").orderBy("doc_id")
    flagged = batch_h.withColumn("dup_in_batch", F.row_number().over(w) > 1)
    probed = flagged.join(
        corpus_h.withColumn("_in_corpus", F.lit(True)), "_h", "left"
    )
    return probed.select(
        "doc_id",
        F.coalesce(F.col("_in_corpus"), F.lit(False)).alias("dup_of_corpus"),
        "dup_in_batch",
        (
            ~F.coalesce(F.col("_in_corpus"), F.lit(False))
            & ~F.col("dup_in_batch")
        ).alias("kept"),
    )


def incremental_dedup_sql(
    table: str = "documents", batch_pred: str = "doc_id % 10 = 7"
) -> str:
    """DuckDB twin of :func:`incremental_dedup` with the batch carved out of
    ``table`` by ``batch_pred`` (corpus = the complement)."""
    return f"""
WITH corpus AS (SELECT DISTINCT text FROM {table} WHERE NOT ({batch_pred})),
batch AS (SELECT doc_id, text FROM {table} WHERE {batch_pred}),
flagged AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1 AS dup_in_batch
  FROM batch
)
SELECT f.doc_id,
       c.text IS NOT NULL AS dup_of_corpus,
       f.dup_in_batch,
       (c.text IS NULL AND NOT f.dup_in_batch) AS kept
FROM flagged f LEFT JOIN corpus c USING (text)
"""


def bloom_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    k_hashes: int = 4,
    n_bits: int = 16384,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`decontaminate` through a BLOOM FILTER: the eval set collapses
    to a ``k_hashes``-hash bit set of at most ``n_bits`` positions, and a
    corpus shingle counts as an eval hit iff ALL its k bits are present —
    the membership-sketch twin of x80's frequency sketch, and the shape a
    100 TB decontamination pass actually ships: the broadcast side is
    CONSTANT-SIZE (≤ n_bits rows of one int) no matter how many benchmarks
    the eval set accumulates, where exact decontamination broadcasts the
    full distinct-shingle table.

    The trade is deterministic, one-sided error: a bloom hit can be a
    false positive (rate ≈ (1−e^(−k·s/m))^k for s eval shingles), never a
    false negative — flagged docs are a SUPERSET of the exact operator's,
    so the gate errs toward discarding, the safe direction for leakage.
    Both the bit set and the probes use the portable-hash twins, so the
    whole filter is oracle-checkable.

    Output: (doc_id, n_eval_shingles, is_contaminated) — n_eval_shingles
    here counts bloom-hit shingles (≥ the exact count).
    """
    from .text import portable_hash

    def bits(fp_col):
        arms = []
        for i in range(k_hashes):
            a, b = _uh_params(i)
            arms.append(
                F.pmod(
                    F.pmod(fp_col * F.lit(a) + F.lit(b), F.lit(FP_MOD)),
                    F.lit(n_bits),
                ).cast("int")
            )
        return F.array(*arms)

    eval_bits = (
        word_shingles(eval_docs, n, text_col, id_col)
        .select(F.explode(bits(portable_hash("shingle"))).alias("bit"))
        .distinct()
    )
    probes = word_shingles(docs, n, text_col, id_col).select(
        "doc_id",
        "shingle",
        F.posexplode(bits(portable_hash("shingle"))).alias("_i", "bit"),
    )
    hits = (
        probes.join(F.broadcast(eval_bits), "bit", "left_semi")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("_k_present"))
        .where(F.col("_k_present") == k_hashes)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eval_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_eval_shingles", F.lit(0)).alias("n_eval_shingles"),
            (F.coalesce("n_eval_shingles", F.lit(0)) >= min_hits)
            .cast("long")
            .alias("is_contaminated"),
        )
    )


def bloom_decontaminate_sql(
    n_bits: int = 16384,
    k_hashes: int = 4,
    min_hits: int = 1,
    eval_pred: str = "doc_id % 97 = 0",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`bloom_decontaminate` (word trigrams; eval set
    carved out of ``table`` by ``eval_pred``, corpus = the complement —
    the x34 fixture convention)."""
    from .text import portable_hash_sql

    w = "string_split(text, ' ')"
    tri = (
        f"list_transform(range(1, length({w}) - 1), "
        f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2]))"
    )
    fp = portable_hash_sql("shingle")
    arms = []
    for i in range(k_hashes):
        a, b = _uh_params(i)
        arms.append(f"((fp * {a} + {b}) % {FP_MOD}) % {n_bits}")
    bit_list = ", ".join(arms)
    return f"""
WITH esh AS (
  SELECT DISTINCT unnest(list_distinct({tri})) AS shingle
  FROM {table} WHERE {eval_pred}
),
ebits AS (
  SELECT DISTINCT unnest([{bit_list}]) AS bit
  FROM (SELECT {fp} AS fp FROM esh)
),
tsh AS (
  SELECT doc_id, unnest(list_distinct({tri})) AS shingle
  FROM {table} WHERE NOT ({eval_pred})
),
tb AS (
  SELECT doc_id, shingle, unnest([{bit_list}]) AS bit
  FROM (SELECT doc_id, shingle, {fp} AS fp FROM tsh)
),
flagged AS (
  SELECT doc_id, shingle
  FROM tb JOIN ebits USING (bit)
  GROUP BY doc_id, shingle
  HAVING count(*) = {k_hashes}
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_shingles
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_eval_shingles, 0) AS n_eval_shingles,
       CAST(coalesce(h.n_eval_shingles, 0) >= {min_hits} AS BIGINT)
         AS is_contaminated
FROM (SELECT doc_id FROM {table} WHERE NOT ({eval_pred})) d
LEFT JOIN hits h USING (doc_id)
"""
