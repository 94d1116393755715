"""Distribution statistics for corpus curation: grouped exact quantiles and
per-entity event time-series features.

Both stay entirely JVM-side (built-in aggregates / window functions, no
Python).  Quantiles use only dyadic percentages (k/4) over integer values so
the linear interpolation is bit-exact in IEEE double on any engine — the same
int-exact discipline as the rest of the x-series.  At 100 TB the grouped
exact percentile is one shuffle on the group key with a per-group sort that
Spark spills; when "within a few per-mille" is acceptable the drop-in
replacement is ``approx_percentile`` (t-digest, fully map-side combinable) —
the function takes a flag rather than a fork of the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import tsutil
from ..operators.classes import hold

#: dyadic quartile grid — exact in binary floating point, so Spark's
#: ``percentile`` and DuckDB's ``quantile_cont`` agree to the last bit
QUARTILES = (0.25, 0.5, 0.75)


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: tuple[float, ...] = QUARTILES,
    approx: bool = False,
) -> DataFrame:
    """Per-group p25/p50/p75 of an integer column, scaled ×4 to an exact
    BIGINT (interpolated quartile values of ints are k/4 rationals).

    ``approx=True`` swaps the exact sort-based percentile for Spark's
    t-digest ``approx_percentile`` — same signature, map-side combinable,
    the right default at petabyte scale when exactness isn't contractual.
    """
    fn = F.approx_percentile if approx else F.percentile
    pct = fn(F.col(value_col), F.lit(list(percentages)))
    cols = [
        (F.element_at(pct, i + 1) * 4).cast("long").alias(f"p{int(p * 100)}_x4")
        for i, p in enumerate(percentages)
    ]
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"), F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"), *cols,
    )


def grouped_quantiles_sql(
    table: str, group_col: str, value_col: str,
    percentages: tuple[float, ...] = QUARTILES,
) -> str:
    """DuckDB twin of :func:`grouped_quantiles` (exact path)."""
    cols = ", ".join(
        f"CAST(quantile_cont({value_col}, {p}) * 4 AS BIGINT) AS p{int(p * 100)}_x4"
        for p in percentages
    )
    return (
        f"SELECT {group_col}, CAST(count(*) AS BIGINT) AS n, "
        f"min({value_col}) AS vmin, max({value_col}) AS vmax, {cols} "
        f"FROM {table} GROUP BY {group_col}"
    )


def event_time_features(events: DataFrame, window_rows: int = 3) -> DataFrame:
    """Per-user event stream features: inter-arrival gap and a trailing
    ``window_rows``-event rolling sum of the (fixed-point cents) value.

    One shuffle on ``user_id``; both features come from the same window
    spec so Spark evaluates them in a single sort within each partition.
    Ordering ties break on ``event_id`` so the result is deterministic.
    Nulls (first event of a user) are coalesced to -1 — downstream filters
    and cross-engine hashes never see engine-specific null encodings.

    Timestamps are exposed at microsecond precision: the parquet
    TIMESTAMP(NANOS) column surfaces as int64 epoch-nanos in Spark but is
    truncated to micros by engines whose native timestamp is µs-resolution,
    so µs is the portable grain.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select(
            "event_id",
            "user_id",
            tsutil.epoch_col(events, "ts", "us").alias("ts_us"),
            "value",
        )
        .withColumn("cents", cents)
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.coalesce(
                F.col("ts_us") - F.lag("ts_us").over(w), F.lit(-1)
            ).alias("gap_us"),
            "cents",
            F.sum("cents")
            .over(w.rowsBetween(-(window_rows - 1), 0))
            .alias(f"roll{window_rows}_cents"),
        )
    )


def event_time_features_sql(window_rows: int = 3) -> str:
    """DuckDB twin of :func:`event_time_features` over the ``events`` view."""
    prev = window_rows - 1
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id, ts_us,
       coalesce(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), -1) AS gap_us,
       cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN {prev} PRECEDING AND CURRENT ROW) AS BIGINT)
         AS roll{window_rows}_cents
FROM e
"""


def pair_integrity_audit(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Paired-modality integrity audit: per document source, how many
    documents have a matching embedding row (doc_id = vec_id) and how many
    are missing one, plus a single ``_orphan_vectors`` row counting
    embeddings with no document — the consistency report a multimodal /
    embedding-indexed corpus publishes before training reads it.

    Scale shape (100 TB): one join keyed on the id (AQE picks broadcast when
    one side is small), then a per-source aggregation whose cardinality is
    |sources| — tiny.  The orphan side is the same join reversed (left_anti),
    reusing the exchange.  Output: (source, n_docs, n_paired, n_missing).
    """
    vec_ids = embeddings.select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec"))
    per_source = (
        docs.join(vec_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("has_vec"), F.lit(0))).cast("long").alias("n_paired"),
            F.sum(F.when(F.col("has_vec").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        )
    )
    orphans = (
        embeddings.join(
            docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.lit("_orphan_vectors").alias("source"),
            "n_docs",
            F.lit(0).cast("long").alias("n_paired"),
            F.col("n_docs").alias("n_missing"),
        )
    )
    return per_source.unionByName(orphans)


def pair_integrity_audit_sql() -> str:
    """DuckDB twin of :func:`pair_integrity_audit`."""
    return """
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
       CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.source
UNION ALL
SELECT '_orphan_vectors' AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_paired,
       CAST(count(*) AS BIGINT) AS n_missing
FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
"""


def last_touch_attribution(
    events: DataFrame,
    touch_type: str = "click",
    convert_type: str = "purchase",
    horizon_s: int = 3600,
) -> DataFrame:
    """Last-touch attribution: each conversion credited to the SAME user's
    most recent touch event within ``horizon_s`` seconds — the standard
    marketing/funnel attribution rule, and the per-conversion complement of
    x86's full interval-join pair set.

    Implemented on the as-of sweep (operators/asof.py): union both sides,
    one shuffle on user_id, carry-forward window — NO range join, no
    per-user quadratic blow-up; the horizon is a post-filter on the matched
    timestamp.  Touches are pre-aggregated to one row per (user, second)
    (max event id wins) so the as-of contract's uniqueness holds and ties
    break deterministically.

    Output: (purchase_event_id, user_id, purchase_s, click_event_id,
    delay_s) — attributed conversions only.
    """
    from ..operators.asof import asof_join

    ts = tsutil.epoch_col(events, "ts", "s")
    base = events.select("event_id", "user_id", "event_type", ts.alias("t"))
    touches = (
        base.where(F.col("event_type") == touch_type)
        .groupBy("user_id", F.col("t").alias("touch_t"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    conv = base.where(F.col("event_type") == convert_type).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("t").alias("purchase_s"),
    )
    hit = asof_join(
        conv,
        touches.select("user_id", "touch_t", "click_event_id"),
        on=["user_id"],
        left_time="purchase_s",
        right_time="touch_t",
        payload=["click_event_id", "touch_t"],
        prefix="",
    )
    return hit.where(
        F.col("touch_t").isNotNull()
        & (F.col("purchase_s") - F.col("touch_t") <= horizon_s)
    ).select(
        "purchase_event_id",
        "user_id",
        F.col("purchase_s").cast("long").alias("purchase_s"),
        "click_event_id",
        (F.col("purchase_s") - F.col("touch_t")).cast("long").alias("delay_s"),
    )


def last_touch_attribution_sql(
    touch_type: str = "click", convert_type: str = "purchase", horizon_s: int = 3600
) -> str:
    """DuckDB twin of :func:`last_touch_attribution` (native ASOF join)."""
    return f"""
WITH c AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS touch_t,
         max(event_id) AS click_event_id
  FROM events WHERE event_type = '{touch_type}'
  GROUP BY user_id, floor(epoch(ts))
),
p AS (
  SELECT event_id AS purchase_event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s
  FROM events WHERE event_type = '{convert_type}'
)
SELECT p.purchase_event_id, p.user_id, p.purchase_s,
       c.click_event_id,
       CAST(p.purchase_s - c.touch_t AS BIGINT) AS delay_s
FROM p ASOF JOIN c
  ON p.user_id = c.user_id AND p.purchase_s >= c.touch_t
WHERE p.purchase_s - c.touch_t <= {int(horizon_s)}
"""


def vocab_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary drift between two corpus snapshots: the ``k`` terms whose
    unigram probability moved the most, by per-term total-variation
    contribution — the distribution-shift monitor a continuously-refreshed
    training corpus publishes with every snapshot (catches a crawl source
    going spammy or a language mix shifting long before model metrics do).

    Integer-exact: p_micro(t) = c(t)·1e6 div N per side (floor), drift =
    |p_a − p_b|.  (The full TV distance is Σ drift_micro / 2 — derivable
    from the same table; the top-k view is the actionable artifact.)

    Scale shape (100 TB per snapshot): each side is one tokenize+explode →
    term-keyed count with map-side combine [the only corpus-sized
    shuffles]; the totals are 1-row aggregates OVER THE COUNT TABLES
    (vocabulary-sized, not corpus-sized — the same stats-from-cache rule as
    BM25's); the join is vocabulary-sized full-outer on term; top-k is a
    TakeOrdered, never a global sort.

    Output: (term, c_a, c_b, p_a_micro, p_b_micro, drift_micro, rnk),
    ranked by (drift DESC, term ASC), rnk ≤ k.
    """
    from .text import tokens

    def counts(d):
        return (
            d.select(F.explode(tokens(text_col)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    ca = hold(counts(docs_a).withColumnRenamed("c", "c_a").cache())
    cb = hold(counts(docs_b).withColumnRenamed("c", "c_b").cache())
    # the totals ride a broadcast 1-row cross join (aggregated off the
    # cached count tables, vocabulary-sized) — no blocking driver pull, the
    # whole monitor is one lazy plan / one Spark job
    totals = F.broadcast(
        ca.agg(F.sum("c_a").cast("long").alias("n_a")).crossJoin(
            cb.agg(F.sum("c_b").cast("long").alias("n_b"))
        )
    )

    j = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce("c_a", F.lit(0)).cast("long").alias("c_a"),
            F.coalesce("c_b", F.lit(0)).cast("long").alias("c_b"),
        )
        .crossJoin(totals)
        .select(
            "term",
            "c_a",
            "c_b",
            F.expr("c_a * 1000000 div n_a").cast("long").alias("p_a_micro"),
            F.expr("c_b * 1000000 div n_b").cast("long").alias("p_b_micro"),
        )
        .withColumn(
            "drift_micro", F.abs(F.col("p_a_micro") - F.col("p_b_micro")).cast("long")
        )
        .orderBy(F.desc("drift_micro"), F.asc("term"))
        .limit(k)
    )
    return j.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.desc("drift_micro"), F.asc("term"))
        ).cast("long"),
    )


def vocab_drift_single_scan(
    docs: DataFrame,
    side,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """:func:`vocab_drift` when BOTH snapshots come from one source table —
    the common monitoring case (this week's corpus vs last week's, split by
    a snapshot column).  ``side`` is a boolean/int column expression: 0 →
    snapshot A, 1 → snapshot B.

    One corpus pass instead of two: tag each row with its side, tokenize
    ONCE, and fold both snapshots' counts in a single term-keyed
    aggregation (conditional count columns — a groupBy(term, side) pivot
    fused into one combine).  The vocabulary-sized full-outer join
    disappears entirely: a term missing from one side simply counts 0
    there.  Everything downstream (totals off the cached count table,
    broadcast 1-row totals join, TakeOrdered top-k) matches
    :func:`vocab_drift`, and so does the output schema — the x105 gate
    pins row equality against the same oracle.

    Scale shape (100 TB): ONE tokenize+explode → ONE term-keyed shuffle
    with map-side combine; halves the corpus cost of the two-scan form
    (VERDICT r6 item 4)."""
    from .text import tokens

    s = side if not isinstance(side, str) else F.col(side)
    counts = hold(
        docs.select(s.cast("int").alias("_side"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.when(F.col("_side") == 0, 1)).cast("long").alias("c_a"),
            F.count(F.when(F.col("_side") == 1, 1)).cast("long").alias("c_b"),
        )
        .cache()
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("c_a").cast("long").alias("n_a"),
            F.sum("c_b").cast("long").alias("n_b"),
        )
    )
    j = (
        counts.crossJoin(totals)
        .select(
            "term",
            "c_a",
            "c_b",
            F.expr("c_a * 1000000 div n_a").cast("long").alias("p_a_micro"),
            F.expr("c_b * 1000000 div n_b").cast("long").alias("p_b_micro"),
        )
        .withColumn(
            "drift_micro", F.abs(F.col("p_a_micro") - F.col("p_b_micro")).cast("long")
        )
        .orderBy(F.desc("drift_micro"), F.asc("term"))
        .limit(k)
    )
    return j.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.desc("drift_micro"), F.asc("term"))
        ).cast("long"),
    )


def vocab_drift_sql(k: int = 20) -> str:
    """DuckDB twin of the x105 gate: snapshot A = even doc_ids, snapshot B =
    odd doc_ids of ``documents``."""
    return f"""
WITH ta AS (SELECT unnest(string_split(text, ' ')) AS term
            FROM documents WHERE doc_id % 2 = 0),
tb AS (SELECT unnest(string_split(text, ' ')) AS term
       FROM documents WHERE doc_id % 2 = 1),
ca AS (SELECT term, CAST(count(*) AS BIGINT) AS c_a FROM ta GROUP BY term),
cb AS (SELECT term, CAST(count(*) AS BIGINT) AS c_b FROM tb GROUP BY term),
na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ta),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tb),
j AS (
  SELECT coalesce(ca.term, cb.term) AS term,
         coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
),
p AS (
  SELECT term, c_a, c_b,
         CAST(c_a * 1000000 // na.n AS BIGINT) AS p_a_micro,
         CAST(c_b * 1000000 // nb.n AS BIGINT) AS p_b_micro
  FROM j CROSS JOIN na CROSS JOIN nb
),
d AS (
  SELECT *, CAST(abs(p_a_micro - p_b_micro) AS BIGINT) AS drift_micro FROM p
),
r AS (
  SELECT term, c_a, c_b, p_a_micro, p_b_micro, drift_micro,
         CAST(row_number() OVER (ORDER BY drift_micro DESC, term ASC) AS BIGINT) AS rnk
  FROM d
)
SELECT * FROM r WHERE rnk <= {k}
"""
