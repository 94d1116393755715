"""Physical-plan quality gates — the properties that make the engine hold at
100 TB, asserted on the actual Catalyst plans (not just eyeballed once):

- partition pruning + parquet filter pushdown on the optimized layout (the
  replacement for the reference's two MySQL indexes, SqlShard.scala:64-67)
- column pruning: scans read only the projected columns
- set-algebra semi/anti joins broadcast their small side (the IN-list tiering
  of SqlShard.scala:323-329, subsumed by Catalyst)
- the W2 merge is ONE shuffle with map-side partial aggregation
"""

import re

from pyspark.sql import functions as F

from conftest import SF_DIR, edge_rows_df
from flockdb_spark.graph import EdgeStore
from flockdb_spark.operators.classes import QueryClass, query_class
from flockdb_spark.operators.merge import temporal_merge


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_layout_prunes_partitions_and_pushes_filters(spark, store, tmp_path):
    path = str(tmp_path / "edges_opt")
    store.write_optimized(path)
    st = EdgeStore.read_optimized(spark, path)
    plan = plan_str(st.forward(2, 101).select("destination_id", "position"))
    # graph partition pruned at planning time, source filter pushed to parquet
    assert re.search(r"PartitionFilters:.*graph_id.*= 2", plan)
    assert re.search(r"PushedFilters:.*EqualTo\(source_id,101\)", plan)
    # column pruning: the scan must not read updated_at/count
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "updated_at" not in m.group(1) and "count" not in m.group(1)


def test_backward_twin_pushes_destination_filter(spark, store, tmp_path):
    """Backward reads need no twin: the one published layout prunes the
    graph partition and pushes the destination filter to parquet (row-group
    stats do the rest), and it holds exactly the rows of the store."""
    path = str(tmp_path / "edges_bwd")
    store.write_optimized(path)
    st = EdgeStore.read_optimized(spark, path)
    plan = plan_str(st.backward(3, 42).select("source_id", "position"))
    assert re.search(r"PartitionFilters:.*graph_id.*= 3", plan)
    assert re.search(r"PushedFilters:.*EqualTo\(destination_id,42\)", plan)
    assert st.edges.count() == store.edges.count()


def test_semi_join_broadcasts_small_side(spark, store):
    small = spark.createDataFrame([(i,) for i in range(20)], "destination_id long")
    joined = store.graph(1).join(F.broadcast(small), "destination_id", "left_semi")
    plan = plan_str(joined)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_merge_is_one_shuffle_with_partial_agg(spark):
    a = edge_rows_df(spark, [(1, 1, 2, 0, 10, 0)])
    b = edge_rows_df(spark, [(1, 1, 2, 0, 20, 1)])
    plan = plan_str(temporal_merge(a, b), "simple")
    # union → partial max_by (map-side combine) → ONE hash exchange → final
    # max_by.  (SortAggregate, not Hash: struct agg buffers aren't hashable —
    # still strictly better than a window, which gets no partial combine.)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max_by" in plan and "max_by" in plan


def test_embedding_scan_prunes_columns(spark):
    """Raw parquet read (not the `_read` re-spread cache, which plans an
    RDD scan with no ReadSchema): the production multi-file layout must
    prune to the two used columns."""
    from flockdb_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_str(brute_force_topk(emb, [0, 1], k=5))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "vec_id" in m.group(1) and "embedding" in m.group(1)
    # the parquet file carries no other columns we could mis-read, but the
    # python-eval stage must be Arrow-batched, not row-at-a-time (the scorer
    # moved from mapInPandas to the zero-copy mapInArrow in r6)
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_wildcard_over_cache_stays_in_codegen(spark, store):
    """The hot read path (R5 wildcard) must be a single codegen span over the
    cached scan — no Python, no unnecessary Exchange before the filter."""
    df = store.forward(1, 1, (0,))
    pre = plan_str(df, "simple")
    # predicate reaches the cached scan itself (filter args on the
    # InMemoryTableScan), and no Python evaluation anywhere in the read path
    assert "InMemoryTableScan" in pre and "source_id" in pre.split("InMemoryTableScan")[1].split("\n")[0]
    assert "BatchEvalPython" not in pre and "MapInPandas" not in pre and "MapInArrow" not in pre
    # AQE finalizes codegen spans only at execution — run, then check
    df.collect()
    post = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan string
    assert re.search(r"\*\(\d+\) Filter", post)


def test_stratified_sample_broadcasts_rates_no_fact_shuffle(spark):
    from flockdb_spark.functions import splits

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    plan = plan_str(splits.stratified_sample(docs, {"en": 100}, 900))
    # rates dim broadcast; the fact table is never hash-repartitioned
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pack_sequences_single_partition_window_only_on_shard_totals(spark):
    from flockdb_spark.functions import packing

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(100)], "doc_id long, text string"
    )
    plan = plan_str(packing.pack_sequences(docs, 256, n_shards=8), "simple")
    # exactly one SinglePartition exchange: the 8-row shard-totals base
    # offsets — the corpus-side prefix sum runs shard-parallel
    assert plan.count("Exchange SinglePartition") == 1
    assert "Exchange hashpartitioning(shard" in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    from flockdb_spark.functions import dedup

    train = spark.createDataFrame(
        [(i, "some words repeated here often enough") for i in range(50)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(999, "some words repeated")], "doc_id long, text string")
    plan = plan_str(dedup.decontaminate(train, ev), "simple")
    assert "BroadcastHashJoin" in plan
    # r12 shape: the scoring pass IS the zero-fill spine (explode_outer +
    # LEFT broadcast join + ONE doc-grain agg) — exactly one join in the
    # whole plan, and no doc-keyed spine join whose small-SF broadcast of
    # the DOC-GRAIN hits table would degrade to a corpus SMJ at 100 TB
    assert len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)) == 1
    assert "LeftOuter" in plan


def test_source_overlap_no_self_join_one_corpus_exchange(spark):
    """r12 shape: pairs derive map-side from each shingle's collect_set —
    no shingle self-join, no broadcast of a corpus-vocabulary-sized table,
    and the corpus crosses exactly ONE exchange (the per-shingle set agg;
    the pair count exchange is source-pair-grain, trivially small)."""
    from flockdb_spark.functions import dedup

    docs = spark.createDataFrame(
        [(i, "w1 w2 w3 w4", "en", f"s{i % 3}", 11) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = plan_str(dedup.source_overlap(docs), "simple")
    assert not re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)
    assert "BroadcastExchange" not in plan
    assert "collect_set" in plan
    # two hash exchanges total: shingle-keyed set agg + pair-grain count
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_boilerplate_one_doc_grain_agg_no_final_join(spark):
    """r12 shape: n_grams and n_boiler come out of ONE doc-grain
    aggregation over the left-joined gram stream — the old per-doc totals
    aggregation and the final doc-keyed join are gone, and the cache holds
    doc-grain gram ARRAYS, not the exploded stream."""
    from flockdb_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(30)], "doc_id long, text string"
    )
    with query_class(spark, QueryClass.SELECT_COPY) as scope:
        out = textmod.boilerplate_coverage(docs, n=5, min_docs=3)
        plan = plan_str(out, "simple")
        # the cache the scope holds is doc-grain arrays
        assert len(scope.held) == 1
        assert dict(scope.held[0].dtypes)["_grams"].startswith("array")
    # exactly one join (gram stream vs boiler set); none keyed on doc_id
    assert len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)) == 1
    assert not re.search(r"hashpartitioning\(doc_id[^)]*\).*\n.*Sort", plan)


def test_ordered_prefix_sum_sharded_no_global_window(spark):
    from flockdb_spark.functions import packing

    docs = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(500)], "doc_id long, n long"
    )
    out = packing.ordered_prefix_sum(docs, "doc_id", "n", out_col="cum", chunk=64)
    plan = plan_str(out, "simple")
    # exactly one SinglePartition exchange: the tiny base-offset window over
    # id_range/chunk rows — the corpus-side prefix sum runs shard-parallel
    assert plan.count("Exchange SinglePartition") == 1
    assert "Exchange hashpartitioning(_shard" in plan
    # exact equivalence with the global-window formulation
    from pyspark.sql import Window

    expect = docs.withColumn("cum", F.sum("n").over(Window.orderBy("doc_id")))
    got = {(r["doc_id"], r["cum"]) for r in out.collect()}
    want = {(r["doc_id"], r["cum"]) for r in expect.collect()}
    assert got == want


def test_ordered_prefix_sum_exact_above_2_53(spark):
    # position scheme is millis<<20 (~2^60); float floor(x/chunk) misassigns
    # boundary rows up there (ADVICE r2) — shard key must use integer div
    from pyspark.sql import Window

    from flockdb_spark.functions import packing

    base = (1 << 60) + (1 << 20)  # beyond float53, straddles a chunk boundary
    rows = [(base + i, 1) for i in range(-3, 4)]
    docs = spark.createDataFrame(rows, "pos long, n long")
    out = packing.ordered_prefix_sum(docs, "pos", "n", out_col="cum", chunk=1 << 20)
    expect = docs.withColumn("cum", F.sum("n").over(Window.orderBy("pos")))
    got = {(r["pos"], r["cum"]) for r in out.collect()}
    want = {(r["pos"], r["cum"]) for r in expect.collect()}
    assert got == want


def test_x19_pipeline_has_no_global_window_over_corpus(spark):
    import flockdb_spark.queries_ext  # noqa: F401 — registers x-series
    from flockdb_spark.queries import QUERIES

    plan = plan_str(QUERIES["x19_pipeline"](spark, SF_DIR), "simple")
    assert plan.count("Exchange SinglePartition") == 1


def test_empty_store_relations_are_pruned_from_plans(spark):
    """q17's fresh-store replay unions the op batch with an EMPTY edge
    table.  An RDD-backed empty DataFrame plans `Scan ExistingRDD` with
    defaultParallelism empty partitions — dead tasks in every job.  The
    empty_df LocalRelation must be erased by PropagateEmptyRelation.

    Built from a RAW parquet read here: the gate's `_read` path pins its
    scan via localCheckpoint, which legitimately plans `Scan ExistingRDD` —
    this regression is about the EMPTY relation only."""
    from flockdb_spark.operators.merge import apply_oplog
    from flockdb_spark.schema import EDGE_SCHEMA, METADATA_SCHEMA, empty_df

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ops = events.select(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("op_state"),
        F.lit(1).cast("int").alias("graph_id"),
        F.pmod(F.col("user_id"), F.lit(8)).alias("source_id"),
        F.pmod(F.col("event_id"), F.lit(32)).alias("destination_id"),
        F.col("event_id").alias("position"),
        (F.lit(1800000000) + F.pmod(F.col("event_id"), F.lit(16))).alias("updated_at"),
    )
    merged, md = apply_oplog(
        empty_df(spark, EDGE_SCHEMA),
        empty_df(spark, METADATA_SCHEMA),
        ops,
        has_mass=False,
        split_untouched=False,
    )
    for df in (merged, md):
        assert "ExistingRDD" not in plan_str(df, "simple")


def test_funnel_is_one_exchange_for_all_steps(spark):
    """The funnel is a single hash aggregation on the user key (step₀ min +
    per-step sorted lists, chain resolved post-agg) — one shuffle total
    regardless of chain length."""
    import flockdb_spark.queries_ext  # noqa: F401
    from flockdb_spark.queries import QUERIES

    plan = plan_str(QUERIES["x39_funnel"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 1


def test_flat_compound_tree_is_one_scan_one_shuffle(spark, store):
    """An arbitrary set-op tree must evaluate as one tagged scan + one flags
    aggregation — not one scan branch and one shuffle PER NODE (q13's two
    3-leaf trees planned 19 exchanges under the join composition)."""
    from flockdb_spark.operators.algebra import (
        Difference, Intersection, Simple, Term, Union,
    )

    tree = Union(
        Intersection(Simple(Term(3, 1)), Simple(Term(3, 2))),
        Difference(Simple(Term(3, 3)), Simple(Term(3, 4))),
    )
    df = tree.ids(store)
    plan = plan_str(df, "simple")
    # one flags hash-agg plus at most the store derivation's own exchanges
    # (their count depends on whether an earlier test already cached the
    # store) — nothing like the join composition's 9+
    assert plan.count("Exchange") <= 3
    # the join composition is gone entirely — membership is flag arithmetic
    assert "Join" not in plan
    # and the store's edge relation appears ONCE, not once per leaf
    assert plan.count("InMemoryTableScan") <= 1


def test_hybrid_rrf_lexical_leg_is_single_corpus_pass(spark):
    """r8: the lexical leg's df comes from a count window over the matched
    subset, not a separately-built idf broadcast table — the whole hybrid
    plan must contain exactly TWO explode generators (the |Q|-document
    query-term side and the one corpus stream).  A third explode means the
    idf side regrew its own corpus pass."""
    from flockdb_spark.functions.relevance import hybrid_rrf_topk
    from flockdb_spark.sources.edges import _read

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    df = hybrid_rrf_topk(docs, emb, [0, 1, 2], k=5, k_dense=10, k_lex=10)
    plan = plan_str(df, "formatted")
    # the single-corpus-pass property, pinned at the SCAN (r11): exactly
    # one parquet scan of documents may appear — the lexical leg's one
    # stream (the |Q|-document query-term subtree is COLLECTED at
    # construction and re-enters as driver literals).  A second documents
    # scan means the idf side regrew its own corpus pass.
    import re as _re

    n_scans = len(_re.findall(r"^\(\d+\) Scan ", plan, _re.M))
    assert n_scans == 2, f"expected 2 scans (docs, emb), plan has {n_scans}\n{plan}"
    # r11 literal fold: TWO explode generators, both over that single
    # stream — explode(array_intersect(tokens, <literal term array>)) (the
    # map-side distinct matched-term set) and explode(<literal term→qids
    # map>[term]) (the scoring assignment).  Neither is a broadcast join:
    # the whole default-path plan carries NO BroadcastExchange at all.
    n_explode = plan.count("Arguments: explode(")
    assert n_explode == 2, f"expected 2 explode generators, plan has {n_explode}"
    assert "array_intersect" in plan, "matched-term filter left the scan side"
    # r11 shuffle fold: the whole brute-dense hybrid rides THREE hash
    # exchanges — dense top-k window (query_id), lexical term exchange
    # (the df window), and the lexical query_id exchange (shared by the
    # score aggregate AND the top-k window).  The fusion union's own
    # exchange is GONE: both union children arrive hash-partitioned on
    # query_id, so the rrf sum + final window reuse that partitioning.
    # A fourth exchange means a stage pair stopped sharing.
    import re

    raw = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange hashpartitioning", raw))
    assert n_ex == 3, f"expected 3 hash exchanges, plan has {n_ex}\n{raw}"
    assert "Exchange SinglePartition" not in raw
    assert "BroadcastExchange" not in raw, "literal fold regressed to a broadcast join"


def test_dest_page_over_mutated_store(spark, tmp_path):
    """q07's dest-order page over a store mutated via apply_oplog: the add
    is ranked, the removal is invisible, and re-publishing the mutated
    store through the one layout (``write_optimized`` + ``read_optimized``)
    serves the identical page with ONE hash exchange (the rank window's
    hash(source_id); the range layout buys point-read pruning instead)."""
    from pyspark.sql import Window

    from flockdb_spark.operators.merge import apply_oplog

    rows = [(1, s, d, d, 10, 0) for s in (1, 2) for d in (101, 102, 103)]
    st = EdgeStore.from_edges(spark, edge_rows_df(spark, rows))
    ops = spark.createDataFrame(
        [(0, 1, 1, 999, 999, 20), (1, 1, 2, 102, 102, 20)],
        "op_state int, graph_id int, source_id long, destination_id long,"
        " position long, updated_at long",
    )
    e2, m2 = apply_oplog(st.edges, st.metadata, ops)
    mutated = EdgeStore.from_edges(spark, e2, m2)
    w = Window.partitionBy("source_id").orderBy(F.desc("destination_id"))

    def ranked(base):
        return base.where((F.col("graph_id") == 1) & (F.col("state") == 0)).select(
            "source_id", "destination_id", F.row_number().over(w).alias("rn")
        )

    def dest_page(base):
        return sorted(
            (r["source_id"], r["destination_id"], r["rn"]) for r in ranked(base).collect()
        )

    page = dest_page(mutated.edges)
    assert page == sorted(
        [(1, 999, 1), (1, 103, 2), (1, 102, 3), (1, 101, 4), (2, 103, 1), (2, 101, 2)]
    )
    path = str(tmp_path / "republished")
    mutated.write_optimized(path)
    published = EdgeStore.read_optimized(spark, path).edges
    assert dest_page(published) == page
    assert plan_str(ranked(published), "simple").count("Exchange hashpartitioning") == 1
