"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (computes every output
column, no driver collect).  A DuckDB run of the same oracle SQL is timed
alongside as the single-node baseline the 2× BENCH target refers to
(BASELINE.md); it is reported under "duckdb_baseline" for comparison.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: pass counts and the DuckDB per-query timeout are env-tunable for the big
#: local SFs (sf3/sf10), where min-of-3 on the baseline's heavy analytics
#: costs hours of wall; the driver's per-round sf0.1 run uses the defaults.
PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
DUCK_PASSES = int(os.environ.get("SPARK_GRAFT_DUCK_PASSES", str(PASSES)))
DUCK_TIMEOUT = float(os.environ.get("SPARK_GRAFT_DUCK_TIMEOUT", "0"))  # 0 = none

#: the headline set: reads Q5–Q15, merge writes Q17–Q18, reconcile Q20, and
#: the pipeline extensions (dedup / ANN / analytics).  Q6 is excluded: it is
#: a driver-paced cursor-walk API demo (dozens of tiny jobs), not a data-path
#: query.  The headline contains no exact-pairwise baseline operator: ANN runs
#: as x15 (IVF) + x35 (multi-probe LSH) and embedding near-dup as x18
#: (LSH-bucketed) — x05 and x07 stay registered as the oracle-checked exact
#: baselines only (they exist to define recall, not to race DuckDB).
BENCH_QUERIES = [
    "q05_wildcard",
    "q07_by_destination",
    "q08_backward",
    "q09_where_in",
    "q10_intersection",
    "q11_union",
    "q12_difference",
    "q13_nested",
    "q14_select_edges",
    "q15_incl_archived",
    "q17_oplog_replay",
    "q18_mass_action",
    "q20_reconcile",
    "x01_dedup_exact",
    "x02_ngram_jaccard",
    "x03_minhash_lsh",
    "x15_ivf_ann",
    "x18_lsh_neardup",
    "x35_multiprobe_ann",
    "x11_fingerprint",
    "x14_pagerank",
    "x25_bm25",
    "x27_triangles",
    "x32_repetition",
    "x33_seq_packing",
    "x34_decontaminate",
    "x37_boilerplate",
    "x39_funnel",
    "x43_mutual_edges",
    "x45_chunking",
    "x47_bigram_surprisal",
    # r5 additions: the tokenizer-training step, the cross-source overlap
    # matrix, and the repeated-span rewrite — all corpus-bound scans
    "x70_bpe_pair_counts",
    "x71_source_overlap",
    "x72_span_dedup_rewrite",
    # r5 second-session additions: the two-pass sketch-pruned frequent-term
    # extraction, the per-source token-budget window, and the KN bigram LM
    # estimation — three more full-corpus passes
    "x84_heavy_hitters",
    "x90_token_budget",
    "x91_kneser_ney",
    # r6 additions: the one-scan batch selectEdges (12 mixed edge pages),
    # SemDeDup-style semantic dedup (k-means cells + survivor rule), the
    # multi-query BM25 top-k retrieval pass, and the scan-fused linear
    # quality classifier
    "q24_select_edges_batch",
    "x98_semantic_dedup",
    "x99_bm25_topk",
    "x100_quality_classifier",
    # r6 fourth-session additions: hybrid RRF retrieval (dense GEMM leg +
    # lexical IDF-overlap leg + fusion), the scan-fused exact-phrase search,
    # and the FORCED-sketch heavy-hitters twin (x84 is now cost-based and
    # picks the single-pass exact plan at bench scale; x103 keeps the
    # 100 TB sketch shape measured — its DuckDB twin is the exact plan, so
    # that line quantifies the strategy's small-scale overhead on purpose)
    "x101_hybrid_rrf",
    "x102_phrase_match",
    "x103_heavy_hitters_sketch",
    # monitoring + training passes: snapshot vocabulary drift (two term
    # counts + vocab join) and the one-pass normal-equation probe fit
    "x105_vocab_drift",
    "x106_probe_fit",
    # r7 additions: the AUTO-SIZED LSH near-dup (the new default shape —
    # measured next to the pinned-shape x18) and the real PPM/WAV decode
    # pass.  x110 (hybrid RRF with the ANN dense leg) stays OFF the
    # headline for the same reason x05/x07 do: it gates the scale path's
    # plumbing, and at sf0.1 with |Q|=5 the 8-table leg is exactly the
    # choice hybrid_rrf_topk's auto rule rejects (brute GEMM wins below
    # the dot budget; x101 measures that default) — racing the deliberately
    # wrong-at-this-scale branch against DuckDB measures nothing.
    "x109_lsh_auto_neardup",
    "x111_media_decode",
    # r8: product-quantization ANN — the compressed-domain serving shape
    # (8-byte codes, table-lookup ADC scoring) next to x15's IVF and x35's
    # multi-probe LSH lines; x114 is the production two-stage recipe
    # (trained codebooks + ADC prefilter + exact rerank)
    "x112_pq_ann",
    "x114_pq_rerank",
    # r8 late additions: the full IVFADC composition (coarse cells + residual
    # PQ — the RAM-resident 100 TB serving shape) and the MMR diversity
    # rerank (greedy λ·rel − (1−λ)·max-sim over brute top-40 candidates)
    "x115_ivfpq_ann",
    "x116_mmr_rerank",
    # x118 (fully-trained IVFADC) stays OFF the headline for the same
    # reason x113 does: it is the TRAINING step (two k-means corpus passes
    # + residual Lloyd by design) — racing an index build against a DuckDB
    # query at sf0.1 measures nothing; the serving-shape line is x115 and
    # the training arithmetic is value-gated (x118) + recall-measured
    # (RECALL.md)
    # the all-but-the-top measurement pass: one-pass centered Gram + exact
    # integer power iteration + JVM-side projection — two corpus passes by
    # the algorithm's dataflow
    "x117_top_pc_projection",
    # r9: binary sign-sketch ANN — the cheapest compressed-domain prefilter
    # (one BIGINT of sign bits per vector, xor+popcount candidates, exact
    # rerank) next to the PQ (x112/x114/x115) and LSH (x35/x109) lines
    "x120_binary_ann",
    # r10: DSIR importance selection — hashed unigram+bigram bag models
    # (target vs raw) fit in one constant-size shuffle, per-doc log-ratio
    # weights via broadcast join, deterministic Gumbel-limit top-k
    "x121_dsir_selection",
]

#: queries whose DataFrame CONSTRUCTION performs eager corpus work (x84
#: collects the count-min sketch to inline it as probe literals; the BM25
#: pair x25/x99 runs a corpus-sized tokenize to collect n_docs/avgdl as
#: plan literals).  The prepared-statement reuse above would leave that
#: work outside the timed section while the DuckDB baseline pays
#: everything in-pass — so these rebuild their DataFrame INSIDE every
#: timed pass.
CONSTRUCT_IN_PASS = {
    "x84_heavy_hitters",
    "x103_heavy_hitters_sketch",
    # the BM25 pair shares a per-(corpus, text_col) session memo (one
    # tokenize + stats warm-up serves the family — relevance.
    # corpus_terms_stats); the pass loop releases the memo at every pass
    # boundary so the FIRST family member of a pass (x25 — it precedes x99
    # in BENCH_QUERIES) still pays the build cold, exactly like the DuckDB
    # baseline's first family query, while x99 measures the amortized
    # serving cost a deployment sees
    "x25_bm25",
    "x99_bm25_topk",
    # x101's dense leg collects the query vectors for the broadcast GEMM —
    # eager corpus-touching construction for the same reason (its lexical
    # stats, x102's phrase derivation, and x105's totals are lazy broadcast
    # 1-row joins, so those construct cold for free)
    "x101_hybrid_rrf",
    "x110_hybrid_rrf_ann",
    # x109's construction runs the corpus count that decides the auto shape
    # — that decision is part of what the query costs, so it's timed
    "x109_lsh_auto_neardup",
    # x112/x114's construction collects the codebook rows + query vectors
    # and builds (x114: trains) the ADC tables — the index-build half of
    # PQ, timed in-pass
    "x112_pq_ann",
    "x114_pq_rerank",
    # x115 collects centroid+codebook seeds and builds the per-(query, cell)
    # ADC tables; x116's candidate stage collects the query vectors; x117
    # runs the ENTIRE Gram pass + power iteration at construction time — all
    # corpus-touching, so timed in-pass
    "x115_ivfpq_ann",
    "x116_mmr_rerank",
    "x117_top_pc_projection",
    # x120's construction collects the query sign-sketches (a corpus-
    # touching scan) — timed in-pass like the other index builders
    "x120_binary_ann",
    # x121's construction runs the model-fit corpus pass eagerly (the
    # ≤buckets-row btab collect that feeds the literal lr array — r11's
    # literal-inline rework replaced the former gram-stream cache), so
    # rebuilding each pass times the whole two-pass algorithm like the
    # DuckDB baseline
    "x121_dsir_selection",
    # (x118_ivfpq_trained is NOT listed: it is excluded from BENCH_QUERIES
    # — see the note there — so a CONSTRUCT_IN_PASS entry would be dead)
}


def shuffle_partitions_for(sf_dir: str) -> int:
    """Size the shuffle by DATA, not by cluster width (SCALE.md §6): ~8 MB of
    input per partition, clamped to [8, 4096].  At sf0.1 this lands around
    16-32 (tiny tasks stop dominating wall time); at 100 TB the same rule
    hits the cap and a real deployment raises it — AQE's coalescing then
    right-sizes every post-shuffle stage within that budget."""
    total = sum(f.stat().st_size for f in Path(sf_dir).glob("*.parquet"))
    return max(8, min(4096, total // (8 << 20) or 8))


def _duck_connect():
    """DuckDB connection with the SF views, or None (baseline is
    informational only — a missing duckdb must not fail the bench)."""
    try:
        import duckdb

        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return con
    except Exception:  # noqa: BLE001
        return None


# one urandom draw at import, reused by every probe: the probe times the
# write path, not the RNG
_DISK_PROBE_BUF = os.urandom(1 << 20)


def _disk_calibrate() -> float:
    """Fixed disk probe: write+fsync 64 MB to the bench's filesystem.  The
    CPU probes (below) miss the failure mode this round actually hit:
    episodic VM-disk throttling (load-average ~10 with an idle CPU and
    io-wait, identical 32-task stages bimodally 0.9 s vs 32 s across
    identical runs) — a stalled-writeback window inflates every
    shuffle-writing Spark stage AND DuckDB spills while the CPU probes
    stay flat.  A start/end pair that differs by 10× marks the artifact
    as produced in (or around) a throttled window.

    The buffer is incompressible pseudo-random bytes (ADVICE r11): on a
    filesystem with transparent compression or zero-block elision a zeroed
    buffer never reaches the disk, so the probe would stay flat during
    exactly the writeback windows it exists to expose."""
    import tempfile

    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir=str(Path(SF_DIR).parent), suffix=".probe") as f:
        buf = _DISK_PROBE_BUF
        for _ in range(64):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    return round(time.perf_counter() - t0, 3)


def _duck_calibrate() -> float | None:
    """Fixed pure-CPU probe (no IO, no SF dependence): the wall of counting
    a 50M range on a throwaway connection.  Recorded at bench start and
    end so round-over-round deltas are attributable to code vs box speed
    (VERDICT r10 item 8 — the r10 'final' artifacts inflated ~40% from
    shared-box load and the drift was only provable via ad-hoc re-runs)."""
    try:
        import duckdb

        con = duckdb.connect()
        t0 = time.perf_counter()
        con.execute("SELECT count(*) FROM range(50000000)").fetchall()
        dt = round(time.perf_counter() - t0, 3)
        con.close()
        return dt
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    from flockdb_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="flockdb-bench", shuffle_partitions=shuffle_partitions_for(SF_DIR)
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # the PASS-interLEAVED DuckDB baseline (VERDICT r10 item 8, amended by
    # measurement): each pass runs [all Spark queries][all DuckDB twins],
    # so the two engines' measurements for pass i are minutes apart — not
    # the hour the r10 end-to-end split allowed.  Per-QUERY interleaving
    # (the verdict's literal ask) was implemented first and REFUTED by
    # A/B at sf1.0: DuckDB's retained buffer pool and cache churn between
    # Spark queries degraded memory-heavy Spark slots 6-15x (x25 34.7 s
    # interleaved vs 2.3 s without; x121 11.8 vs 2.5) while DuckDB itself
    # moved <25% — the protocol was measuring cross-engine memory
    # interference, not query cost.  Each pass gets a FRESH DuckDB
    # connection (buffers released before the next Spark pass); engines
    # never run concurrently.
    duck_con = None
    gc_wall = 0.0  # accumulated System.gc() wall, excluded from timed sections

    def jvm_gc() -> None:
        nonlocal gc_wall
        t0 = time.perf_counter()
        spark._jvm.System.gc()
        gc_wall += time.perf_counter() - t0

    def spark_calibrate() -> float:
        """Fixed parallel JVM probe: sum over a 200M range across all task
        threads.  The DuckDB probe is effectively single-thread, so it
        misses the failure mode where a noisy neighbor shrinks the box's
        EFFECTIVE core count — which inflates 32-way Spark work while
        1-thread probes stay flat (r11: unchanged-code queries drifted
        +25% between rounds with a stable single-thread calibration)."""
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        return round(time.perf_counter() - t0, 3)

    spark_calibrate()  # one warmup (codegen for the probe itself)
    scalib_start = spark_calibrate()
    calib_start = _duck_calibrate()
    dcalib_start = _disk_calibrate()

    # warm the store/caches once so per-query numbers measure the operator,
    # not the parquet scan + JVM warmup
    from flockdb_spark.queries import params_for, store_for

    st = store_for(spark, SF_DIR)
    st.edges.count()
    st.metadata.count()
    params_for(spark, SF_DIR)  # fixed query parameters (src10 etc.)
    # prime the noop sink + codegen paths so the first timed query isn't
    # paying one-off JVM initialization
    st.edges.limit(10).write.format("noop").mode("overwrite").save()

    # prepared-statement reuse: each query's DataFrame is built ONCE and the
    # timed section measures execution (what repeats in production — a real
    # deployment amortizes client-side plan construction exactly like this;
    # the DuckDB baseline's per-call SQL parse is microseconds, so the
    # comparison stays apples-to-apples on the data path).  Each prebuilt
    # frame keeps the QueryScope that holds the caches its construction made.
    from flockdb_spark.operators.classes import QueryScope

    def prebuild(name: str):
        scope = QueryScope()
        with scope.active():
            return scope, qs[name](spark, SF_DIR)

    prebuilt = {name: prebuild(name) for name in BENCH_QUERIES if name not in CONSTRUCT_IN_PASS}

    # three passes, keep the per-query minimum: pass 1 pays one-off physical
    # planning / codegen / cache materialization; the min is the stable
    # operator cost (run-to-run wall variance on a shared box is ±40%, and
    # min-of-3 cuts the tail a single noisy pass leaves in min-of-2)
    times: dict[str, float] = {}
    times_all: dict[str, list] = {}
    duck_times: dict[str, float] = {}
    duck_timeouts: list[str] = []

    def run_duck(sql: str) -> float | None:
        """One timed DuckDB execution; None if it exceeded DUCK_TIMEOUT
        (interrupted from a watchdog thread — the query raises)."""
        import threading

        import duckdb

        timer = None
        if DUCK_TIMEOUT > 0:
            timer = threading.Timer(DUCK_TIMEOUT, duck_con.interrupt)
            timer.start()
        t0 = time.perf_counter()
        try:
            duck_con.execute(sql).fetchall()
        except duckdb.InterruptException:
            return None
        finally:
            if timer is not None:
                timer.cancel()
        return round(time.perf_counter() - t0, 3)

    def duck_once(name: str) -> None:
        if duck_con is None or name not in oracles or name in duck_timeouts:
            return
        dt = run_duck(oracles[name])
        if dt is None:
            duck_timeouts.append(name)
            duck_times.pop(name, None)
        elif name not in duck_times or dt < duck_times[name]:
            duck_times[name] = dt

    from flockdb_spark.functions.relevance import (
        release_corpus_memo,
        release_count_memo,
    )

    for i in range(PASSES):
        # pass boundary: drop the BM25 family's shared corpus-stats memo so
        # the first family query of THIS pass pays the warm-up cold (within
        # the pass, later family members reuse it — the amortized cost), and
        # the row-count memo so x101/x110's construction counts are paid in
        # EVERY pass — min-of-passes then measures what CONSTRUCT_IN_PASS
        # claims (per-pass construction), not a memoized-count fast path
        release_corpus_memo()
        release_count_memo()
        # pass-boundary hygiene, OUTSIDE any timed section: force a full GC
        # so ContextCleaner's weak-ref cleanup (shuffle files, broadcasts)
        # from the PREVIOUS pass cannot bleed into this pass's walls — the
        # DuckDB baseline re-executes each SQL with no such carried state,
        # so carrying it on the Spark side is measurement pollution, not
        # query cost (the 2min periodicGC session conf bounds it for real
        # deployments; a bench pass is shorter than that).  GC wall is
        # accumulated into gc_excluded_sec (ADVICE r10: the excluded
        # overhead is real work a continuous session pays — keep it
        # visible in the artifact instead of silently flattering queries)
        jvm_gc()
        for name in BENCH_QUERIES:
            # a CONSTRUCT_IN_PASS query builds and runs in a scope of its
            # own per pass; a prebuilt one re-enters the scope it was built in
            scope, df = prebuilt.get(name, (QueryScope(), None))
            with scope.active():
                t0 = time.perf_counter()
                if df is None:
                    df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
            # release this query's intra-query caches OUTSIDE the timed
            # section — for EVERY query, not just CONSTRUCT_IN_PASS (r11):
            # Spark's CacheManager matches by plan equality, so a leaked
            # term-table cache from x25 would serve x99/x101's identical
            # subplan warm and mis-attribute their cost; and a prebuilt
            # query's materialized cache (x27's oriented edges, x14's
            # degree table, x47/x91's bigram types) otherwise occupies
            # storage memory across every later query, and the next pass
            # would find it warm.  So a prebuilt query plans over its
            # caches (InMemoryRelation) in pass 1 only; passes 2-3 re-run
            # the same frame with nothing cached, its construction having
            # run once.  The release is BLOCKING (QueryScope.release): the
            # async form defers block removal onto whatever runs next —
            # measured as multi-second spread on the queries FOLLOWING
            # cache-holders (x39 after x37, q24 after x91).
            scope.release()
            times_all.setdefault(name, []).append(dt)
            if name not in times or dt < times[name]:
                times[name] = dt
        # the pass's DuckDB half: all twins on a FRESH connection (warm
        # within the pass like the Spark side's memo families; buffers
        # released before the next Spark pass — see protocol note above)
        if i < DUCK_PASSES:
            jvm_gc()
            duck_con = _duck_connect()
            if duck_con is not None:
                for name in BENCH_QUERIES:
                    duck_once(name)
                duck_con.close()
                duck_con = None
    total = round(sum(times.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # throughput vs BASELINE.md's production peaks (20k writes/s, 100k
    # reads/s on a 2010 cluster): q17 merges one op per events row; q08 scans
    # all of graph 3 to answer the backward queries
    n_ops = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_g3 = st.edges.where("graph_id = 3").count()

    # throughput headline from the MEDIAN pass with its spread (VERDICT r7
    # item 8): the min-of-N per-query numbers stay for the query table, but
    # the headline writes/s / reads/s lines absorbed ±12% box noise between
    # identical-code rounds — the median with an explicit spread makes the
    # metric comparable across rounds instead of tracking the luckiest pass
    def med_spread(name: str) -> tuple[float, float]:
        xs = sorted(times_all.get(name, [times[name]]))
        med = xs[len(xs) // 2] if len(xs) % 2 else (xs[len(xs)//2 - 1] + xs[len(xs)//2]) / 2
        return med, round(xs[-1] - xs[0], 3)

    w_med, w_spread = med_spread("q17_oplog_replay")
    s_med, s_spread = med_spread("q08_backward")
    throughput = {
        "write_ops_per_s": int(n_ops / w_med),
        "scan_edges_per_s": int(n_g3 / s_med),
        "write_wall_median_sec": w_med,
        "write_wall_spread_sec": w_spread,
        "scan_wall_median_sec": s_med,
        "scan_wall_spread_sec": s_spread,
        "reference_peak_writes_per_s": 20000,
        "reference_peak_reads_per_s": 100000,
    }

    # end-of-bench calibration: same fixed CPU probe as the start — a
    # drifting pair flags shared-box load INSIDE the artifact, so
    # round-over-round deltas are attributable without ad-hoc re-runs
    calib_end = _duck_calibrate()
    scalib_end = spark_calibrate()
    dcalib_end = _disk_calibrate()
    spark.stop()

    # per-query repeat spread (max-min over passes EXCLUDING pass 0, which
    # pays one-off physical planning / codegen by design) — the artifact
    # carries its own noise estimate; identical-code reruns should agree
    # within it
    spread = {
        name: round(max(xs[1:]) - min(xs[1:]), 3)
        for name, xs in times_all.items()
        if len(xs) > 2
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "duckdb_baseline": duck_times,
                **(
                    {"duckdb_timeouts": {"limit_sec": DUCK_TIMEOUT, "queries": duck_timeouts}}
                    if duck_timeouts
                    else {}
                ),
                "throughput": throughput,
                "cpus": int(CPUS),
                "protocol": "pass-interleaved",
                "calibration": {
                    "duck_range50m_start_sec": calib_start,
                    "duck_range50m_end_sec": calib_end,
                    "spark_range200m_start_sec": scalib_start,
                    "spark_range200m_end_sec": scalib_end,
                    "disk_64m_fsync_start_sec": dcalib_start,
                    "disk_64m_fsync_end_sec": dcalib_end,
                },
                "gc_excluded_sec": round(gc_wall, 3),
                "pass_spread_sec": spread,
            }
        )
    )


if __name__ == "__main__":
    main()
