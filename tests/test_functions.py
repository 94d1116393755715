"""Unit checks for the LLM-pipeline operators: dedup, similarity, text,
multimodal plumbing, analytics."""

import pytest
from pyspark.sql import functions as F

from flockdb_spark.functions import analytics, dedup, multimodal, similarity, text
from flockdb_spark.operators.classes import QueryClass, QueryScope, query_class
from conftest import edge_rows_df


@pytest.fixture(autouse=True)
def _query_scope():
    """Every test runs in a query scope released at teardown, so the caches
    an operator called outside ``scoped`` holds do not outlive its test."""
    scope = QueryScope()
    with scope.active():
        yield scope
    scope.release()


def scoped(spark):
    """The query scope every operator call below runs in: it holds the
    caches the operator creates and releases them on exit."""
    return query_class(spark, QueryClass.SELECT_COPY)


def held_by(spark, build):
    """What the query scope holds after ``build()`` (released on return)."""
    with scoped(spark) as scope:
        build()
        return list(scope.held)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near-dup of 0
        (2, "completely different words entirely here now", "en", "s", 45),
        (3, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup(docs):
    out = {r["kept_doc_id"]: r["dup_count"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2 and out[1] == 1 and out[2] == 1


def test_ngram_jaccard(docs):
    pairs = {(r["a"], r["b"]): r["jaccard_micro"] for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1_000_000  # identical docs
    assert (0, 1) in pairs and 500_000 <= pairs[(0, 1)] < 1_000_000
    assert not any(2 in p for p in pairs)


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["a"], r["b"]) for r in dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8).collect()}
    assert (0, 3) in pairs  # exact dups always collide
    est = {(r["a"], r["b"]): r["est_jaccard"] for r in dedup.minhash_estimate_jaccard(docs,
        dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8), num_hashes=16).collect()}
    assert est[(0, 3)] == 1.0


def test_simhash_clusters(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[3]  # identical text, identical signature
    ham_near = bin(sh[0] ^ sh[1]).count("1")
    ham_far = bin(sh[0] ^ sh[2]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_similarity_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(emb, [0], k=3)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked == [1, 2, 3]
    near = {(r["a"], r["b"]) for r in similarity.neardup_pairs(emb, threshold=0.85).collect()}
    assert near == {(0, 1)}


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in text.quality_features(docs).collect()}
    assert q[0]["n_tokens"] == 9 and q[0]["n_distinct"] == 8  # 'the' twice
    tc = docs.select(text.token_count("text").alias("n")).collect()
    assert tc[0]["n"] == 9


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat and the dog of a house", "x", "s", 1),
        (1, "der hund und die katze ist gut", "x", "s", 1),
        (2, "el gato y la casa que vemos", "x", "s", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "es"}


def test_fingerprint_deterministic(docs):
    a = docs.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    fp = {r["doc_id"]: r["fp"] for r in a}
    assert fp[0] == fp[3] and fp[0] != fp[1]
    # python reference implementation agrees
    expected = 0
    for ch in "the quick brown fox jumps over the lazy dog":
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    assert fp[0] == expected


def test_multimodal_plumbing(docs):
    media = multimodal.attach_blobs(docs)
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[0]["n_bytes"] == 43
    assert feats[0]["media_type"] == "image" and feats[1]["media_type"] == "audio"
    assert feats[0]["width"] == (43 % 64 + 1) * 16
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\x00")


def test_pagerank_sink_gains_mass(spark):
    # star graph: 1..4 all point at 5
    rows = [(1, s, 5, s, 100, 0) for s in (1, 2, 3, 4)]
    edges = edge_rows_df(spark, rows)
    pr = {r["node_id"]: r["pr"] for r in analytics.pagerank(edges, 1, iterations=2).collect()}
    assert pr[5] > pr[1] == pr[2] == pr[3] == pr[4]
    dd = {r["out_degree"]: r["n_vertices"] for r in analytics.degree_distribution(edges, 1).collect()}
    assert dd == {1: 4}


def test_lsh_neardup_precision_and_planes0_equality(spark):
    """LSH-bucketed near-dup pairs: precision is exact by construction
    (candidates re-scored with the exact dot), and with planes=0 every vector
    shares one bucket, so the result equals the broadcast-exact operator."""
    from flockdb_spark.functions.similarity import lsh_neardup_pairs, neardup_pairs
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r["a"], r["b"]) for r in neardup_pairs(emb, threshold=0.45).collect()}
    bucketed = {(r["a"], r["b"]) for r in lsh_neardup_pairs(emb, threshold=0.45, planes=4).collect()}
    assert bucketed <= exact  # no false positives, ever
    all_in_one = {(r["a"], r["b"]) for r in lsh_neardup_pairs(emb, threshold=0.45, planes=0).collect()}
    assert all_in_one == exact  # single bucket == exhaustive comparison


# --- relevance (BM25), splits, triangles --------------------------------


def test_bm25_ranks_rarer_terms_higher(spark):
    from flockdb_spark.functions import relevance

    rows = [
        (0, "apple banana apple"),
        (1, "apple banana"),
        (2, "banana cherry"),
        (3, "durian elderberry fig"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = spark.createDataFrame([("apple",)], "term string")
    scores = {r["doc_id"]: r["score_micro"] for r in relevance.bm25_scores(docs, q).collect()}
    # only docs containing the query term are scored
    assert set(scores) == {0, 1}
    # doc 0 has tf=2 for 'apple' → strictly higher score than doc 1 (tf=1,
    # same length class); all scores positive integers
    assert scores[0] > scores[1] > 0
    assert all(isinstance(v, int) for v in scores.values())


def test_bm25_derived_query_terms(spark):
    from flockdb_spark.functions import relevance

    docs = spark.createDataFrame(
        [(i, "common words everywhere") for i in range(5)] + [(9, "rare")],
        "doc_id long, text string",
    )
    top = [r["term"] for r in relevance.top_df_terms(relevance.doc_terms(docs), n=2).collect()]
    # df-ordered, min length 4 chars: 'rare' (df=1) ranks below the df=5 terms
    assert top == ["common", "everywhere"] or top == sorted(top, key=lambda t: t)[:2]
    assert "rare" not in top


def test_doc_grain_terms_equal_grouped_terms(spark):
    """r11: corpus_terms_stats caches doc-grain token arrays and re-derives
    the (doc_id, dl, term, tf) view map-side (_terms_from_arrays) instead of
    caching the groupBy(doc_id, dl, term) result — this pins that the two
    paths are row-identical (incl. repeated tokens → tf > 1) and that the
    doc-grain stats equal the exploded-table stats (_corpus_stats)."""
    from flockdb_spark.functions import relevance
    from pyspark.sql import functions as F

    rows = [
        (0, "apple banana apple apple"),
        (1, "apple banana"),
        (2, "banana cherry banana"),
        (3, "durian"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grouped = sorted(tuple(r) for r in relevance.doc_terms(docs).collect())
    arrs = relevance.doc_term_arrays(docs)
    mapside = sorted(
        tuple(r) for r in relevance._terms_from_arrays(arrs).collect()
    )
    assert mapside == grouped
    # map-side plan has no exchange before the explode (the point of r11)
    assert "Exchange" not in relevance._terms_from_arrays(arrs)._jdf.queryExecution().executedPlan().toString()
    n_old, avg_old = relevance._corpus_stats(relevance.doc_terms(docs))
    row = arrs.agg(F.count(F.lit(1)), F.sum(F.size("_toks"))).first()
    assert (int(row[0]), int(row[1]) * 1000 // int(row[0])) == (n_old, avg_old)


def test_corpus_memo_df_table(spark):
    """r11: the document-frequency table is memoized corpus statistics
    (cached, lazy) — pins that the memo's df table is row-identical to the
    per-consumer re-aggregation it replaces, that the default bm25 query
    derivation (a slice of the df table) equals top_df_terms, and that
    release_corpus_memo unpersists it."""
    from flockdb_spark.functions import relevance
    from pyspark.sql import functions as F

    relevance.release_corpus_memo()
    rows = [
        (0, "apple banana apple cherry"),
        (1, "apple banana"),
        (2, "banana cherry banana durian"),
        (3, "durian elderberry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms, n_docs, avgdl, dftab = relevance.corpus_terms_stats(docs)
    old_df = sorted(
        tuple(r)
        for r in terms.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    )
    assert sorted(tuple(r) for r in dftab.collect()) == old_df
    assert dftab.storageLevel.useMemory  # cached (memo-owned)
    # default query derivation (df-table slice) ≡ top_df_terms(terms)
    derived = (
        dftab.where(F.length("term") >= 4)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(5)
    )
    assert [tuple(r) for r in derived.collect()] == [
        tuple(r) for r in relevance.top_df_terms(terms).collect()
    ]
    # memo hit returns the same cached object; release unpersists it
    again = relevance.corpus_terms_stats(docs)[3]
    assert again is dftab
    relevance.release_corpus_memo()
    assert not dftab.storageLevel.useMemory


def test_relevance_memos_rekey_when_inputs_rewritten_in_place(spark, tmp_path):
    """The row-count and corpus-stats memos key on the input files' sizes
    and mtimes, not only on the plan text: a parquet file rewritten in place
    under the same path is re-read, never served stale."""
    import pyarrow.parquet as pq
    from conftest import SF_DIR

    from flockdb_spark.functions import relevance

    src = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    path = str(tmp_path / "documents.parquet")
    relevance.release_count_memo()
    relevance.release_corpus_memo()
    try:
        pq.write_table(src, path)
        docs = spark.read.parquet(path)
        n = src.num_rows
        assert relevance.cached_count(docs) == n
        assert relevance.corpus_terms_stats(docs)[1] == n
        pq.write_table(src.slice(0, 10), path)
        docs = spark.read.parquet(path)
        assert relevance.cached_count(docs) == 10
        assert relevance.corpus_terms_stats(docs)[1] == 10
    finally:
        relevance.release_count_memo()
        relevance.release_corpus_memo()


def test_pagerank_and_x03_release_convention(spark):
    """r11: pagerank's loop-invariant e_deg cache and x03's signature cache
    are held by the query scope, which releases them when the query ends
    (instead of leaking them across ~20 bench lines)."""
    from flockdb_spark.functions import analytics

    edges = spark.createDataFrame(
        [(3, 1, 2, 0), (3, 2, 3, 0), (3, 3, 1, 0)],
        "graph_id long, source_id long, destination_id long, state int",
    )
    with scoped(spark) as scope:
        out = analytics.pagerank(edges, graph_id=3)
        handles = list(scope.held)
        assert len(handles) == 1
        out.write.format("noop").mode("overwrite").save()
        assert handles[0].storageLevel.useMemory
    assert not handles[0].storageLevel.useMemory


def test_assign_splits_deterministic_partition(spark):
    from flockdb_spark.functions import splits

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = splits.assign_splits(df).collect()
    by_split = {}
    for r in out:
        assert 0 <= r["bucket"] < 1000
        assert (r["bucket"] < 800) == (r["split"] == "train")
        by_split[r["split"]] = by_split.get(r["split"], 0) + 1
    # every row lands in exactly one split, roughly 80/10/10
    assert sum(by_split.values()) == 2000
    assert by_split["train"] > by_split["val"] and by_split["train"] > by_split["test"]
    # stable across invocations (pure function of the id)
    again = splits.assign_splits(df).collect()
    assert sorted((r["doc_id"], r["split"]) for r in again) == sorted(
        (r["doc_id"], r["split"]) for r in out
    )


def test_triangle_counts_known_graph(spark):
    from flockdb_spark.functions import analytics as an

    # two triangles sharing edge (1,2): {1,2,3} and {1,2,4}; plus a dangling
    # edge (4,5) that closes nothing
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (4, 5)], "u long, v long"
    )
    out = {r["node_id"]: r["n_triangles"] for r in an.triangle_counts(pairs).collect()}
    assert out == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_matches_bruteforce(spark):
    from itertools import combinations

    from flockdb_spark.functions import analytics as an

    # deterministic pseudo-random graph on 12 nodes
    edges = sorted({(min(a, b), max(a, b))
                    for a in range(12) for b in range(12)
                    if a != b and (a * 7 + b * 13) % 5 == 0})
    eset = set(edges)
    expect = {}
    for x, y, z in combinations(range(12), 3):
        if (x, y) in eset and (x, z) in eset and (y, z) in eset:
            for n in (x, y, z):
                expect[n] = expect.get(n, 0) + 1
    pairs = spark.createDataFrame(edges, "u long, v long")
    out = {r["node_id"]: r["n_triangles"] for r in an.triangle_counts(pairs).collect()}
    assert out == expect


def test_stratified_sample_rates_and_determinism(spark):
    from flockdb_spark.functions import splits

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    out = splits.stratified_sample(df, {"en": 100}, 900, strata_col="lang")
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        # survivorship is exactly "bucket < rate"
        assert r["bucket"] < (100 if r["lang"] == "en" else 900)
    # en downsampled hard relative to de
    assert by_lang["en"] < by_lang["de"] / 4
    # content-deterministic: same rows survive under a different partitioning
    again = splits.stratified_sample(
        df.repartition(7), {"en": 100}, 900, strata_col="lang"
    ).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in rows)


def test_grouped_quantiles_exact_small(spark):
    from flockdb_spark.functions import stats

    # group a: values 1..5 → p25=2, p50=3, p75=4 (×4 = 8,12,16)
    # group b: values 10,20 → p25=12.5, p50=15, p75=17.5 (×4 = 50,60,70)
    rows = [("a", v) for v in [1, 2, 3, 4, 5]] + [("b", 10), ("b", 20)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in stats.grouped_quantiles(df, "g", "v").collect()}
    assert (out["a"]["p25_x4"], out["a"]["p50_x4"], out["a"]["p75_x4"]) == (8, 12, 16)
    assert (out["b"]["p25_x4"], out["b"]["p50_x4"], out["b"]["p75_x4"]) == (50, 60, 70)
    assert out["a"]["n"] == 5 and out["a"]["vmin"] == 1 and out["a"]["vmax"] == 5
    # approx path returns the same column shape (values within the digest's error)
    approx = stats.grouped_quantiles(df, "g", "v", approx=True)
    assert approx.columns == stats.grouped_quantiles(df, "g", "v").columns


def test_event_time_features_gaps_and_rolls(spark):
    from flockdb_spark.functions import stats

    # user 7: events at 1s, 3s, 6s (ns grain) with values 1.00, 2.00, 4.00
    # user 8: single event → gap = -1 sentinel
    rows = [
        (1, 1_000_000_000, 7, 1.0),
        (2, 3_000_000_000, 7, 2.0),
        (3, 6_000_000_000, 7, 4.0),
        (4, 1_000_000_000, 8, 8.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, value double")
    out = {r["event_id"]: r for r in stats.event_time_features(df).collect()}
    assert out[1]["gap_us"] == -1 and out[4]["gap_us"] == -1
    assert out[2]["gap_us"] == 2_000_000 and out[3]["gap_us"] == 3_000_000
    # trailing 3-row sum in cents
    assert out[1]["roll3_cents"] == 100
    assert out[2]["roll3_cents"] == 300
    assert out[3]["roll3_cents"] == 700
    assert out[4]["roll3_cents"] == 800


def test_repetition_features_flags_stuffing(spark):
    rows = [
        (1, "a a a a a a"),               # maximal repetition
        (2, "one two three four five"),   # all distinct
        (3, "x y"),                       # too short for trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["dup_token_pm"] == 833
    assert out[1]["n_trigrams"] == 4 and out[1]["dup_trigram_pm"] == 750
    assert out[1]["is_repetitive"] == 1
    assert out[2]["dup_token_pm"] == 0 and out[2]["dup_trigram_pm"] == 0
    assert out[2]["is_repetitive"] == 0
    assert out[3]["n_trigrams"] == 0 and out[3]["dup_trigram_pm"] == 0


def test_pack_sequences_prefix_sum_and_straddle(spark):
    from flockdb_spark.functions import packing

    # 10 docs of 100 tokens each, budget 256 → doc k starts at offset 100k
    rows = [(i, " ".join(["w"] * 100)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           packing.pack_sequences(df, 256, n_shards=4).collect()}
    # global order is (shard, doc_id): shard 0 → docs 0,4,8; shard 1 → 1,5,9...
    order = sorted(range(10), key=lambda i: (i % 4, i))
    for pos, doc in enumerate(order):
        r = out[doc]
        assert r["cum_before"] == pos * 100
        assert r["seq_id"] == (pos * 100) // 256
        assert r["seq_offset"] == (pos * 100) % 256
    # total stream length conserved
    assert sum(r["n_tokens"] for r in out.values()) == 1000
    # deterministic under input repartitioning
    again = {r["doc_id"]: r["cum_before"] for r in
             packing.pack_sequences(df.repartition(7), 256, n_shards=4).collect()}
    assert again == {k: v["cum_before"] for k, v in out.items()}


def test_decontaminate_planted_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the capital of france is paris indeed"),   # contains eval trigrams
            (2, "unrelated content with no overlap at all"),
            (3, "so x"),                                    # too short for trigrams
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the capital of france is paris")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.decontaminate(train, eval_docs).collect()}
    # eval doc has 4 trigrams, all present in doc 1
    assert out[1]["n_eval_shingles"] == 4 and out[1]["is_contaminated"] == 1
    assert out[2]["n_eval_shingles"] == 0 and out[2]["is_contaminated"] == 0
    assert out[3]["n_eval_shingles"] == 0 and out[3]["is_contaminated"] == 0
    # every training doc appears exactly once
    assert set(out) == {1, 2, 3}


def test_portable_hash_mode_equivalent_behavior(docs):
    """The portable (oracle-checkable) hash mode must reproduce the same
    structural guarantees as the production xxhash64 mode: exact dups always
    collide in every band, identical text -> identical simhash, estimates
    max out at 1."""
    pairs = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_candidates(
            docs, num_hashes=16, bands=8, hash_mode="portable"
        ).collect()
    }
    assert (0, 3) in pairs
    sig = dedup.minhash_signatures(docs, num_hashes=16, hash_mode="portable")
    est = {
        (r["a"], r["b"]): r["n_matches"]
        for r in dedup.minhash_estimate_jaccard(
            docs,
            dedup.minhash_lsh_candidates(
                docs, num_hashes=16, bands=8, sig=sig, hash_mode="portable"
            ),
            num_hashes=16,
            sig=sig,
        ).collect()
    }
    assert est[(0, 3)] == 16
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, hash_mode="portable").collect()}
    assert sh[0] == sh[3]


def test_lsh_hyperplane_portable_planes0_matches_exact(spark):
    """planes=0 degenerates to one bucket in both hash modes: the portable
    bucketed near-dup must equal the exact broadcast baseline."""
    import math

    from flockdb_spark.functions.similarity import lsh_neardup_pairs, neardup_pairs

    vecs = []
    for i in range(40):
        a = math.cos(i * 0.05)
        b = math.sin(i * 0.05)
        vecs.append((i, [a, b] + [0.0] * 62))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    exact = {(r["a"], r["b"]) for r in neardup_pairs(emb, threshold=0.9).collect()}
    port = {
        (r["a"], r["b"])
        for r in lsh_neardup_pairs(
            emb, threshold=0.9, planes=0, hash_mode="portable"
        ).collect()
    }
    assert port == exact and len(exact) > 0
    # with planes on, the portable bucketed set is a subset of exact
    sub = {
        (r["a"], r["b"])
        for r in lsh_neardup_pairs(
            emb, threshold=0.9, planes=4, hash_mode="portable"
        ).collect()
    }
    assert sub <= exact


def test_multiprobe_lsh_ann_recall(spark):
    """Multi-probe LSH (VERDICT r1 item 8): probing the query's
    smallest-margin bit flips buys recall without re-hashing the corpus.
    On a planted-cluster corpus (where near neighbors actually exist),
    recall vs the exact top-k must be >=0.9 at planes=6, and multi-probe
    must never lose to single-probe."""
    import math
    import random

    from flockdb_spark.functions.similarity import brute_force_topk, lsh_ann_topk

    rng = random.Random(7)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows, vid = [], 0
    for _c in range(40):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _j in range(10):
            rows.append((vid, unit([x + rng.gauss(0, 0.12) for x in center])))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 10, 20, 30, 40, 50, 60, 70]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_ann_topk(emb, qids, k=5, planes=6, n_probe=n_probe).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= 0.9
    assert r4 >= r1


def test_boilerplate_coverage_planted(spark):
    """Three docs share a templated footer phrase; unique bodies differ.
    The shared 5-gram must be flagged (min_docs=3) and per-doc counts must
    reflect exactly the planted overlap."""
    footer = "all rights reserved contact us"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {footer}"),
        (2, f"one two three four five six {footer}"),
        (3, f"red orange yellow green blue indigo {footer}"),
        (4, "totally unrelated words here nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_boiler"])
        for r in text.boilerplate_coverage(docs, n=5, min_docs=3).collect()
    }
    # 11 tokens -> 7 distinct 5-grams per templated doc; the only gram all
    # three share is the one fully inside the 5-token footer
    assert got[1] == (7, 1) and got[2] == (7, 1) and got[3] == (7, 1)
    assert got[4] == (4, 0)


def test_word_ngrams_short_doc(spark):
    docs = spark.createDataFrame([(1, "only three words")], "doc_id long, text string")
    out = text.boilerplate_coverage(docs, n=5, min_docs=2).collect()
    assert out == []  # shorter than n -> no grams, no row, no crash


def test_funnel_strict_ordering(spark):
    us = 1_000_000_000  # ns per ms-ish step; funnel works in µs = ns div 1000
    rows = [
        # user 1: complete chain in order
        (1, 1 * us, "view"), (1, 2 * us, "click"), (1, 3 * us, "purchase"),
        # user 2: purchase BEFORE click -> incomplete
        (2, 1 * us, "view"), (2, 3 * us, "click"), (2, 2 * us, "purchase"),
        # user 3: click only
        (3, 1 * us, "click"),
        # user 4: two chains; earliest valid chain wins
        (4, 5 * us, "view"), (4, 6 * us, "click"), (4, 7 * us, "purchase"),
        (4, 1 * us, "view"), (4, 2 * us, "click"), (4, 9 * us, "purchase"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {r["user_id"]: (r["t0_us"], r["t1_us"], r["t2_us"], r["span_us"])
           for r in analytics.funnel(events).collect()}
    assert set(got) == {1, 4}
    assert got[1] == (1 * us // 1000, 2 * us // 1000, 3 * us // 1000, 2 * us // 1000)
    # user 4: earliest view (1), earliest click after it (2), earliest
    # purchase after that (7)
    assert got[4] == (1 * us // 1000, 2 * us // 1000, 7 * us // 1000, 6 * us // 1000)


def test_mixture_upsample_epochs(spark):
    from flockdb_spark.functions import splits

    docs = spark.createDataFrame(
        [(1, "wiki"), (2, "web"), (3, "code")], "doc_id long, source string"
    )
    out = splits.mixture_upsample(docs, {"wiki": 3, "code": 2}).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    assert sorted(got[1]) == [0, 1, 2]      # weighted 3
    assert sorted(got[2]) == [0]            # absent -> kept once
    assert sorted(got[3]) == [0, 1]         # weighted 2


def test_mixture_upsample_zero_weight_drops_source(spark):
    # weight 0 means "exclude this source" — sequence(0, -1) would instead
    # generate a DESCENDING [0, -1] and keep the doc twice (ADVICE r2)
    from flockdb_spark.functions import splits

    docs = spark.createDataFrame(
        [(1, "wiki"), (2, "spam")], "doc_id long, source string"
    )
    out = splits.mixture_upsample(docs, {"spam": 0}).collect()
    assert sorted((r["doc_id"], r["epoch"]) for r in out) == [(1, 0)]


def test_bigram_stats_counts_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "doc_id long, text string"
    )
    rows = text.bigram_stats(docs, k=3).collect()
    # pairs: doc1 -> "a b","b a","a b","b c"; doc2 -> "a b","b x"
    assert [(r["pair"], r["freq"]) for r in rows] == [
        ("a b", 3), ("b a", 1), ("b c", 1)  # ties break on pair ASC
    ]


def test_k_hop_min_depth_bfs(spark):
    """Diamond + back-edge: a vertex reachable at depths 1 AND 2 must report
    1 (BFS min), the seed stays at 0 despite the cycle, and depth-3 vertices
    are out of a k=2 horizon."""
    rows = [
        (1, 1, 2, 0, 100, 0), (1, 1, 3, 0, 100, 0),   # seed -> 2, 3
        (1, 2, 4, 0, 100, 0), (1, 3, 4, 0, 100, 0),   # diamond join at 4
        (1, 2, 3, 0, 100, 0),                          # 3 also at depth 2 -> min 1
        (1, 2, 1, 0, 100, 0),                          # back-edge to the seed
        (1, 4, 5, 0, 100, 0),                          # depth 3 — beyond k
        (1, 1, 9, 0, 100, 2),                          # archived: not traversed
    ]
    edges = edge_rows_df(spark, rows)
    seeds = spark.createDataFrame([(1,)], "seed long")
    got = {r["vertex"]: r["depth"] for r in analytics.k_hop(edges, 1, seeds, k=2).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_mutual_edges_directions_and_self_loops(spark):
    rows = [
        (1, 1, 2, 0, 100, 0), (1, 2, 1, 0, 100, 0),   # mutual
        (1, 3, 4, 0, 100, 0),                          # one-way
        (1, 5, 6, 0, 100, 0), (1, 6, 5, 0, 100, 2),   # reverse archived -> not mutual
        (1, 7, 7, 0, 100, 0),                          # self-loop never mutual
    ]
    got = {(r["a"], r["b"]) for r in
           analytics.mutual_edges(edge_rows_df(spark, rows), 1).collect()}
    assert got == {(1, 2)}


def test_fingerprint_vectorized_bit_identical(spark):
    """The Arrow-batched fingerprint must equal the expression-tree HOF on
    every input class: NULL (→ NULL), empty (→ 0), ASCII, non-ASCII BMP,
    astral codepoints (UTF8String iterates CODEPOINTS — one term per emoji,
    not two surrogate halves), and long strings."""
    rows = [
        (0, None),
        (1, ""),
        (2, "the quick brown fox"),
        (3, "añejo café über straße"),
        (4, "emoji \U0001f600 pair"),
        (5, "x" * 5000),
        (6, " leading and trailing  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        text.fingerprint("text").alias("hof"),
        text.fingerprint_vectorized("text").alias("np"),
    ).collect()
    for r in both:
        assert r["hof"] == r["np"], (r["doc_id"], r["hof"], r["np"])


def test_word_shingles_match_python_reference(docs):
    """The NGram-backed shingle generator equals a direct python n-gram
    construction (distinct, space-joined, nothing for short docs)."""
    got = {(r["doc_id"], r["shingle"]) for r in dedup.word_shingles(docs, 3).collect()}
    expected = set()
    for row in docs.select("doc_id", "text").collect():
        w = row["text"].split(" ")
        for i in range(len(w) - 2):
            expected.add((row["doc_id"], " ".join(w[i : i + 3])))
    assert got == expected


def test_read_respreads_single_row_group_scans(spark):
    """Testdata parquet is one row group per table; `_read` must re-spread
    the scan to the session's parallelism (and memoize it) so map-side
    operators don't run on 1-2 cores."""
    from conftest import SF_DIR
    from flockdb_spark.sources.edges import _read

    a = _read(spark, SF_DIR, "documents")
    assert a.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert _read(spark, SF_DIR, "documents") is a


def test_session_window_merges_event_exactly_at_gap(spark):
    """Pins the boundary semantic the x20 oracle must mirror: Spark's
    session_window MERGES an event landing exactly at prev + gap (sessions
    merge when next_start <= prev_end), so the gaps-and-islands oracle must
    split only on STRICTLY greater gaps.  Found as a 1-row divergence at
    sf0.1; sf0.01 never hits the boundary."""
    rows = [(1, 1000), (1, 1000 + 1800), (1, 1000 + 1800 + 1801)]
    df = spark.createDataFrame(rows, "user_id long, ts_s long")
    out = (
        df.select("user_id", F.timestamp_seconds("ts_s").alias("t"))
        .groupBy(F.session_window("t", "1800 seconds"), "user_id")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [1, 2]  # merge at ==gap, split at >gap


def test_chunk_documents_boundaries(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens: 2 chunks (step 3)
            (2, "a b c"),                                # fits in one chunk
            (3, " ".join(f"w{i}" for i in range(5))),   # exactly chunk_tokens
        ],
        "doc_id long, text string",
    )
    out = text.chunk_documents(docs, chunk_tokens=5, overlap=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"], r["n_tokens"]))
    # doc 1: starts at 0,3,6 (ceil((10-5)/3)+1 = 3 chunks); last is remainder
    assert [c[0] for c in sorted(got[1])] == [0, 1, 2]
    assert sorted(got[1])[0][1] == "w0 w1 w2 w3 w4"
    assert sorted(got[1])[1][1] == "w3 w4 w5 w6 w7"
    assert sorted(got[1])[2] == (2, "w6 w7 w8 w9", 4)
    assert got[2] == [(0, "a b c", 3)]
    assert got[3] == [(0, "w0 w1 w2 w3 w4", 5)]
    # every consecutive pair overlaps by exactly `overlap` tokens
    c1 = [c[1].split() for c in sorted(got[1])]
    assert c1[0][-2:] == c1[1][:2] and c1[1][-2:] == c1[2][:2]


def test_token_id_sequences_pad_truncate(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"w{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.token_id_sequences(docs, seq_len=8).collect()}
    ids1, mask1 = out[1]["ids_str"].split(), out[1]["mask_str"].split()
    assert len(ids1) == 8 and len(mask1) == 8
    assert out[1]["n_real"] == 3 and mask1 == ["1", "1", "1", "0", "0", "0", "0", "0"]
    assert ids1[3:] == ["0"] * 5 and all(int(t) > 0 for t in ids1[:3])  # 0 = pad only
    ids2 = out[2]["ids_str"].split()
    assert len(ids2) == 8 and out[2]["n_real"] == 8 and all(int(t) > 0 for t in ids2)
    # same token -> same id (portable hash is a pure function)
    docs2 = spark.createDataFrame([(3, "a a b")], "doc_id long, text string")
    ids3 = {r["doc_id"]: r["ids_str"].split() for r in
            text.token_id_sequences(docs2, seq_len=4).collect()}[3]
    assert ids3[0] == ids3[1] != ids3[2]


def test_multitable_lsh_or_amplification(spark):
    """n_tables OR-amplification (RECALL.md): L independent hyperplane sets
    lift recall toward 1-(1-p)^L at production xxhash64 settings.  On the
    planted-cluster corpus, planes=4/L=8 must clear 0.9 top-k recall and
    never lose to the single table; the near-dup twin must stay a subset of
    exact while recovering >=95% of the exact pair set."""
    import math
    import random

    from flockdb_spark.functions.similarity import (
        brute_force_topk,
        lsh_ann_topk,
        lsh_neardup_pairs,
        neardup_pairs,
    )

    rng = random.Random(11)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows, vid = [], 0
    for _c in range(40):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _j in range(10):
            rows.append((vid, unit([x + rng.gauss(0, 0.12) for x in center])))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 10, 20, 30, 40, 50, 60, 70]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }

    def recall(n_tables):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_ann_topk(
                emb, qids, k=5, planes=4, n_probe=2, n_tables=n_tables
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r8 = recall(1), recall(8)
    assert r8 >= 0.9
    assert r8 >= r1

    exact_pairs = {(r["a"], r["b"]) for r in neardup_pairs(emb, threshold=0.9).collect()}
    single = {
        (r["a"], r["b"])
        for r in lsh_neardup_pairs(emb, threshold=0.9, planes=4, n_tables=1).collect()
    }
    multi_rows = [
        (r["a"], r["b"])
        for r in lsh_neardup_pairs(emb, threshold=0.9, planes=4, n_tables=8).collect()
    ]
    multi = set(multi_rows)
    # first-collision emission (packed-bucket SWAR check): each pair must be
    # emitted EXACTLY once across the 8 tables — no dropDuplicates pass runs
    assert len(multi_rows) == len(multi)
    assert multi <= exact_pairs
    assert single <= multi or len(multi) >= len(single)
    assert len(multi) >= 0.95 * len(exact_pairs)


def test_curation_api_gates_and_finalizers(spark):
    """functions/curation.py: each named gate drops exactly its planted
    offender; finalizers compose (dedup collapse -> token budget)."""
    from flockdb_spark.functions import curation

    base = "the quick brown fox jumps over a lazy dog of winter"
    rows = [
        (1, base),                                     # survives everything
        (2, "zzz qqq xxx yyy www vvv uuu"),            # fails lang gate
        (3, "the cat " + "sat on the mat " * 40),      # fails repetition gate
        (4, base),                                     # exact dup of 1
        (5, "the red fox " + " ".join(f"w{i}" for i in range(20))),  # survives
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    gated = curation.curate(
        docs,
        gates=[curation.lang_gate(min_hits=1), curation.repetition_gate(max_per_mille=150)],
    )
    assert {r["doc_id"] for r in gated.collect()} == {1, 4, 5}
    # gates preserve the input schema (working columns stripped)
    assert gated.columns == docs.columns

    out = curation.curate(
        docs,
        gates=[curation.lang_gate(min_hits=1), curation.repetition_gate(max_per_mille=150)],
        finalize=[
            curation.exact_dedup_finalizer(),
            curation.token_budget_finalizer(budget=12),
        ],
    )
    rows_out = {r["doc_id"]: r for r in out.collect()}
    # doc 4 collapsed into doc 1; budget 12 admits doc 1 (11 tokens) only
    assert set(rows_out) == {1}
    assert rows_out[1]["cum_tokens"] == 11

    # corpus-dependent gate: a footer shared by 3 docs is boilerplate; the
    # doc that is MOSTLY footer is dropped, light-footer docs survive
    footer = "subscribe to our newsletter for updates today"
    brows = [
        (1, base + " alpha beta gamma delta one two three four " + footer),
        (2, base + " epsilon zeta eta theta five six seven eight " + footer),
        (3, footer),                                   # pure boilerplate
    ]
    bdocs = spark.createDataFrame(brows, "doc_id long, text string")
    kept = curation.curate(
        bdocs, gates=[curation.boilerplate_gate(max_micro=500_000, n=5, min_docs=3)]
    )
    assert {r["doc_id"] for r in kept.collect()} == {1, 2}


def test_np_sign_bit_identical_to_expression_path(spark):
    """The numpy-GEMM corpus signer must produce the SAME buckets as the
    hyperplane_signature column expressions, in both hash modes and for
    non-zero table seeds — the invariant that keeps the vectorized path
    oracle-compatible."""
    from pyspark.sql import functions as F

    from flockdb_spark.functions.similarity import (
        _np_sign,
        hyperplane_signature,
        quantized,
    )
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    for mode in ("portable", "xxhash64"):
        for table in (0, 2):
            expr = emb.select(
                "vec_id",
                hyperplane_signature(
                    quantized("embedding"), 64, 6, mode, table
                ).alias("b"),
            )
            got_e = {(r["vec_id"], r["b"]) for r in expr.collect()}
            npdf = _np_sign(emb, "vec_id", "embedding", 64, 6, mode, table + 1, "_id", "_v")
            got_n = {
                (r["_id"], r["bucket"])
                for r in npdf.where(F.col("tbl") == table).collect()
            }
            assert got_e == got_n, (mode, table)


def test_pii_redaction_planted(spark):
    """Each PII rule redacts its planted instance, counts audit the original
    text, and clean text passes through byte-identical."""
    from flockdb_spark.functions import pii

    rows = [
        (1, "write to alice.smith+x@ex-ample.co.uk today"),
        (2, "server at 192.168.0.1 port 80"),
        (3, "call 555-123-4567 now"),
        (4, "nothing sensitive here at all"),
        (5, "a@b.io and 10.0.0.254 and 123-456-7890"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii.redact_pii(docs).collect()}
    assert out[1]["redacted"] == "write to <EMAIL> today"
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 0
    assert out[2]["redacted"] == "server at <IP> port 80"
    assert out[3]["redacted"] == "call <PHONE> now"
    assert out[4]["redacted"] == rows[3][1]  # untouched
    assert out[5]["redacted"] == "<EMAIL> and <IP> and <PHONE>"
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (1, 1, 1)


def test_training_order_deterministic_and_well_formed(spark):
    """training_order: every row lands in exactly one (shard, pos) slot, pos
    is dense per shard, the assignment is identical across invocations, and
    changing the seed permutes the order."""
    from flockdb_spark.functions import splits

    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = splits.training_order(docs, n_shards=4, seed=1).collect()
    assert len(a) == 500
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense 0-based ranks
    b = {(r["doc_id"], r["shard"], r["pos"]) for r in
         splits.training_order(docs, n_shards=4, seed=1).collect()}
    assert b == {(r["doc_id"], r["shard"], r["pos"]) for r in a}
    c = {(r["doc_id"], r["shard"], r["pos"]) for r in
         splits.training_order(docs, n_shards=4, seed=2).collect()}
    assert c != b  # seed changes the order
    # and the order is actually mixed, not id-sorted within shards
    shard0 = sorted(((r["pos"], r["doc_id"]) for r in a if r["shard"] == 0))
    ids_in_order = [d for _, d in shard0]
    assert ids_in_order != sorted(ids_in_order)


def test_fuzzy_decontaminate_catches_paraphrase(spark):
    """The exact gate needs a full shingle window to survive verbatim; the
    fuzzy gate must flag a train doc whose eval twin dropped trailing words
    (production xxhash64 mode; the portable mode is oracle-gated as x57)."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = spark.createDataFrame(
        [
            (1, base),                                        # leaked (truncated twin below)
            (2, "totally different words with zero shared trigram content here"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha bravo charlie delta echo foxtrot golf hotel")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.fuzzy_decontaminate(
            train, eval_docs, num_hashes=16, bands=8, min_est_jaccard_micro=400_000
        ).collect()
    }
    assert out[1]["is_contaminated"] == 1
    assert out[1]["n_flagged_evals"] == 1
    assert out[1]["max_est_jaccard_micro"] >= 400_000
    assert out[2]["is_contaminated"] == 0 and out[2]["max_est_jaccard_micro"] == 0
    assert set(out) == {1, 2}


def test_tfidf_top_terms(docs):
    from flockdb_spark.functions import relevance

    out = relevance.tfidf_top_terms(docs, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    # every doc gets exactly k rows, ranked 1..k, scores non-increasing
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == [1, 2]
        assert rows[0]["score_micro"] >= rows[1]["score_micro"]
    # doc 2's distinctive vocabulary outranks shared words: its top term is
    # one of its unique words (df=1 → max idf)
    assert per_doc[2][0]["term"] in "completely different words entirely here now".split()


def test_inverted_index(docs):
    from flockdb_spark.functions import relevance

    out = {r["term"]: r for r in relevance.inverted_index(docs, max_postings=2).collect()}
    # 'the' appears twice in docs 0,1,3 → df=3, postings capped at 2, tf
    # ties break by doc_id asc
    assert out["the"]["df"] == 3
    assert out["the"]["postings"] == "0,1"
    assert out["cat"]["df"] == 1 and out["cat"]["postings"] == "1"


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(0, "Already clean"), (1, "  Messy\tTEXT \n here  ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.normalize_text(df).collect()}
    assert out[0]["text_norm"] == "already clean" and out[0]["changed"] == 1
    assert out[1]["text_norm"] == "messy text here"
    assert out[1]["changed"] == 1 and out[1]["chars_saved"] == len("  Messy\tTEXT \n here  ") - len("messy text here")


def test_oov_rate(docs):
    out = {r["doc_id"]: r for r in text.oov_rate(docs, vocab_size=3).collect()}
    # top-3 vocab by freq: 'the' (6), then ties at 2 broken term-asc:
    # brown, fox → docs 0/1/3 have 9 tokens, 4 in vocab (the×2, brown, fox)
    assert out[0]["n_tokens"] == 9 and out[0]["n_oov"] == 5
    assert out[0]["oov_pm"] == 5 * 1000 // 9
    # doc 2: all 6 tokens OOV
    assert out[2]["n_oov"] == 6 and out[2]["oov_pm"] == 1000


def test_pair_integrity_audit(spark):
    from flockdb_spark.functions import stats

    docs = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b")], "doc_id long, source string"
    )
    vecs = spark.createDataFrame([(0,), (2,), (9,)], "vec_id long")
    out = {r["source"]: r for r in stats.pair_integrity_audit(docs, vecs).collect()}
    assert out["a"]["n_docs"] == 2 and out["a"]["n_paired"] == 1 and out["a"]["n_missing"] == 1
    assert out["b"]["n_paired"] == 1 and out["b"]["n_missing"] == 0
    assert out["_orphan_vectors"]["n_docs"] == 1 and out["_orphan_vectors"]["n_missing"] == 1


def test_corpus_diff(spark):
    from flockdb_spark.functions import curation

    old = spark.createDataFrame(
        [(0, "same"), (1, "will change"), (2, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "changed"), (3, "brand new")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["change"] for r in curation.corpus_diff(old, new).collect()}
    assert out == {1: "modified", 2: "removed", 3: "added"}


def test_label_centroids(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 1), (2, [2.0, 2.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["dim"]): r for r in similarity.label_centroids(vecs).collect()}
    assert out[(1, 0)]["centroid_micro"] == 500_000 and out[(1, 0)]["n_vectors"] == 2
    assert out[(1, 1)]["centroid_micro"] == 500_000
    assert out[(2, 0)]["centroid_micro"] == 2_000_000 and out[(2, 0)]["n_vectors"] == 1


def test_leakage_free_splits(spark):
    from flockdb_spark.functions import splits as sp

    docs = spark.createDataFrame(
        [(i, "dup" if i < 3 else f"unique {i}") for i in range(10)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in sp.leakage_free_splits(docs).collect()}
    # all three exact dups share the representative and therefore the split
    assert {out[i]["rep_id"] for i in range(3)} == {0}
    assert len({out[i]["split"] for i in range(3)}) == 1
    assert all(out[i]["rep_id"] == i for i in range(3, 10))


def test_duplicated_spans(spark):
    base = " ".join(f"w{i}" for i in range(20))        # one shared 20-token span
    uniq = " ".join(f"u{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(0, base + " tail0 tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8 tail9"),
         (1, base),                                     # window 1 duplicates doc 0's
         (2, uniq),                                     # no shared windows
         (3, "short doc")],                             # < window tokens
        "doc_id long, text string",
    )
    for mode in ("exact", "xxhash64"):
        out = {r["doc_id"]: r for r in
               dedup.duplicated_spans(docs, window=20, stride=10, hash_mode=mode).collect()}
        assert out[1]["n_windows"] == 1 and out[1]["n_dup_windows"] == 1
        assert out[1]["dup_pm"] == 1000
        assert out[0]["n_dup_windows"] >= 1          # its first window is shared
        assert out[2]["n_dup_windows"] == 0
        assert out[3]["n_windows"] == 0 and out[3]["dup_pm"] == 0


def test_kmeans_fit_blobs(spark):
    # two tight blobs; seeds (two smallest ids) start one-in-each
    rows = [
        (0, [0.0, 0.0], 0), (2, [0.02, 0.0], 0), (4, [0.0, 0.04], 0),
        (1, [1.0, 1.0], 0), (3, [1.02, 1.0], 0), (5, [1.0, 1.04], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.kmeans_fit(emb, n_clusters=2, n_iter=2)
    got = {(r["cluster"], r["dim"]): r for r in out.collect()}
    # each cluster captured exactly its blob
    assert got[(0, 0)]["n_vectors"] == 3 and got[(1, 0)]["n_vectors"] == 3
    # centroid of blob A dim0: floor(mean(0, 20000, 0)) = 6666
    assert got[(0, 0)]["centroid_micro"] == 6666
    # blob B dim0: floor(mean(1000000, 1020000, 1000000)) = 1006666
    assert got[(1, 0)]["centroid_micro"] == 1006666


# -- r5 additions: BPE pair counts, source overlap, span rewrite, incremental


def test_bpe_pair_counts(spark):
    rows = [
        (0, "aab aab bbb", "en", "s", 11),
        (1, "aab cc", "en", "s", 6),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["pair"]: (r["n_occurrences"], r["rank"]) for r in
           text.bpe_pair_counts(docs, top_k=10).collect()}
    # 'aab' ×3 → aa×3, ab×3; 'bbb' ×1 → bb×2; 'cc' ×1 → cc×1
    assert out["aa"] == (3, 1) and out["ab"] == (3, 2)  # tie → lexicographic
    assert out["bb"] == (2, 3) and out["cc"] == (1, 4)


def test_source_overlap(spark):
    rows = [
        (0, "w1 w2 w3 w4", "en", "sA", 11),   # trigrams: (w1 w2 w3), (w2 w3 w4)
        (1, "w1 w2 w3 zz", "en", "sB", 11),   # shares (w1 w2 w3) with sA
        (2, "q1 q2 q3 q4", "en", "sC", 11),   # disjoint
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["source_a"], r["source_b"]): r["n_shared"]
           for r in dedup.source_overlap(docs).collect()}
    assert out == {("sA", "sB"): 1}


def test_dedup_spans_rewrite(spark):
    # 2-word segments; doc1 repeats doc0's first segment, then unique tail
    rows = [
        (0, "a b c d", "en", "s", 7),
        (1, "a b x y", "en", "s", 7),
        (2, "a b", "en", "s", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
           for r in dedup.dedup_spans_rewrite(docs, seg_words=2).collect()}
    assert out[0] == ("a b c d", 2, 0)       # first occurrence keeps all
    assert out[1] == ("x y", 1, 1)           # 'a b' deduped away
    assert out[2] == ("", 0, 1)              # fully duplicated doc → empty
    # rows come back for EVERY doc, including fully-deduped ones
    assert set(out) == {0, 1, 2}


@pytest.mark.parametrize("hash_mode", ["xxhash64", "exact"])
def test_incremental_dedup(spark, hash_mode):
    corpus = spark.createDataFrame(
        [(0, "old doc one"), (1, "old doc two")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "old doc one"),    # dup of corpus
            (11, "fresh doc"),      # genuinely new
            (12, "fresh doc"),      # dup within batch
            (13, "another new"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["dup_of_corpus"], r["dup_in_batch"], r["kept"])
           for r in dedup.incremental_dedup(corpus, batch, hash_mode=hash_mode).collect()}
    assert out[10] == (True, False, False)
    assert out[11] == (False, False, True)
    assert out[12] == (False, True, False)
    assert out[13] == (False, False, True)


def test_exact_dedup_hash_and_exact_agree(docs):
    a = sorted((r["kept_doc_id"], r["dup_count"])
               for r in dedup.exact_dedup(docs, hash_mode="xxhash64").collect())
    b = sorted((r["kept_doc_id"], r["dup_count"])
               for r in dedup.exact_dedup(docs, hash_mode="exact").collect())
    assert a == b


def test_training_shards_balance(spark):
    from flockdb_spark.functions import splits

    rows = [(i, "w " * 10, "en", "s", 20) for i in range(100)]
    docs = spark.createDataFrame(
        [(i, t.strip(), l, s, n) for i, t, l, s, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = splits.training_shards(docs, world_size=4).collect()
    assert len(out) == 4
    assert sum(r["n_docs"] for r in out) == 100
    assert sum(r["n_tokens"] for r in out) == 1000
    # every doc has equal tokens, so deviation mirrors doc-count deviation
    for r in out:
        assert r["dev_pm"] == (r["n_tokens"] * 4 * 1000) // 1000 - 1000


def test_vocab_spectrum(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b b c", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["freq"]: (r["n_words"], r["token_share_pm"]) for r in
           text.vocab_spectrum(docs).collect()}
    # a×3, b×2, c×1 over 6 tokens
    assert out[3] == (1, 500) and out[2] == (1, 333) and out[1] == (1, 166)


def test_embedding_outliers(spark):
    # label 0: three vectors near [1,0], one flipped to [-1,0] (the outlier)
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [1.0, 0.1], 0),
        (3, [-1.0, 0.0], 0),   # farthest from the label-0 centroid
        (4, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.embedding_outliers(emb, top_k=1).collect()
    by_label = {r["label"]: r for r in out}
    assert by_label[0]["vec_id"] == 3 and by_label[0]["rank"] == 1
    assert by_label[1]["vec_id"] == 4  # singleton label: itself, dist 0
    assert by_label[1]["dist_micro2"] == 0


def test_lang_confusion(spark):
    rows = [
        (0, "the and of the", "en", "s", 14),   # en markers → pred en
        (1, "der und die das", "de", "s", 15),  # de markers → pred de
        (2, "der und die das", "en", "s", 15),  # labeled en, reads de
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["labeled_lang"], r["pred_lang"]): r["n_docs"]
           for r in text.lang_confusion(docs).collect()}
    assert out[("en", "en")] == 1
    assert out[("de", "de")] == 1
    assert out[("en", "de")] == 1


def test_k_core_cascade(spark):
    # path a-b-c-d plus a triangle (e,f,g): k=2 peel kills the path ends
    # first, then the whole path cascades; the triangle survives with deg 2
    rows = []
    for i, (s, d) in enumerate(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]
    ):
        rows.append((3, s, d, i, 0, 1000 + i, 1))
    edges = spark.createDataFrame(
        rows,
        "graph_id int, source_id long, destination_id long, position long, "
        "state int, updated_at long, count int",
    )
    out = {r["node_id"]: r["degree"]
           for r in analytics.k_core(edges, 3, k=2, n_rounds=3).collect()}
    assert out == {10: 2, 11: 2, 12: 2}
    # one round is NOT enough for the path: ends drop, middle still deg>=?
    one = {r["node_id"] for r in analytics.k_core(edges, 3, k=2, n_rounds=1).collect()}
    assert one == {2, 3, 10, 11, 12}  # 2-3 survive round 1, die in round 2


def test_count_min_sketch_properties(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b", "en", "s", 7), (1, "a c", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sketch = {(r["row"], r["bucket"]): r["cnt"]
              for r in text.count_min_sketch(docs, depth=4, width=64).collect()}
    # every row's cells sum to the total token count (mass conservation)
    for row in range(4):
        assert sum(v for (r, _), v in sketch.items() if r == row) == 6
    # point estimate (min over rows of the probed cell) >= true count
    from flockdb_spark.functions.text import CMS_MOD, _cms_params

    def probe(word, true_n):
        fp_df = spark.createDataFrame([(word,)], "word string").select(
            text.portable_hash("word").alias("fp")
        )
        fp = fp_df.collect()[0]["fp"]
        est = min(
            sketch.get((r, ((fp * _cms_params(r)[0] + _cms_params(r)[1]) % CMS_MOD) % 64), 0)
            for r in range(4)
        )
        assert est >= true_n

    probe("a", 4)
    probe("b", 1)
    probe("c", 1)
    # merge property: sketch(A ∪ B) == sketch(A) + sketch(B) elementwise
    half1 = docs.where(F.col("doc_id") == 0)
    half2 = docs.where(F.col("doc_id") == 1)
    s1 = {(r["row"], r["bucket"]): r["cnt"]
          for r in text.count_min_sketch(half1, depth=4, width=64).collect()}
    s2 = {(r["row"], r["bucket"]): r["cnt"]
          for r in text.count_min_sketch(half2, depth=4, width=64).collect()}
    merged = {}
    for d in (s1, s2):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == sketch


def test_bloom_decontaminate_superset_of_exact(spark, docs):
    # eval set = doc 0's text; docs 0 and 3 share it exactly, doc 1 is a
    # near-dup sharing most trigrams, doc 2 disjoint
    ev = docs.where(F.col("doc_id") == 0)
    corpus = docs.where(F.col("doc_id") != 0)
    exact = {r["doc_id"]: r["is_contaminated"]
             for r in dedup.decontaminate(corpus, ev).collect()}
    bloom = {r["doc_id"]: r["is_contaminated"]
             for r in dedup.bloom_decontaminate(corpus, ev).collect()}
    assert set(exact) == set(bloom)
    for d, flag in exact.items():
        if flag:  # no false negatives: everything exact flags, bloom flags
            assert bloom[d] == 1
    assert exact[3] == 1 and bloom[3] == 1   # exact dup flagged by both
    assert exact[2] == 0                      # disjoint doc clean exactly
    # bloom hit counts dominate exact hit counts per doc
    e_hits = {r["doc_id"]: r["n_eval_shingles"]
              for r in dedup.decontaminate(corpus, ev).collect()}
    b_hits = {r["doc_id"]: r["n_eval_shingles"]
              for r in dedup.bloom_decontaminate(corpus, ev).collect()}
    assert all(b_hits[d] >= e_hits[d] for d in e_hits)


# ---------------------------------------------------------------------------
# HLL registers (x83) and CMS-pruned heavy hitters (x84)
# ---------------------------------------------------------------------------


def test_hll_estimate_accuracy(spark):
    # 1000 distinct values, m=64 -> expected rel. error ~1.04/sqrt(64)=13%
    df = spark.range(1000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    regs = {
        r["bucket"]: r["rho"] for r in text.hll_registers(df, "v").collect()
    }
    est = text.hll_estimate(regs)
    assert abs(est - 1000) / 1000 < 0.35  # ~2.7 sigma

    # small-range (linear counting) regime
    small = spark.range(20).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    regs_s = {
        r["bucket"]: r["rho"] for r in text.hll_registers(small, "v").collect()
    }
    assert abs(text.hll_estimate(regs_s) - 20) < 8


def test_hll_merge_is_elementwise_max(spark):
    a = spark.range(0, 300).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(200, 500).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    ra = {r["bucket"]: r["rho"] for r in text.hll_registers(a, "v").collect()}
    rb = {r["bucket"]: r["rho"] for r in text.hll_registers(b, "v").collect()}
    merged = {
        j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)
    }
    rab = {
        r["bucket"]: r["rho"]
        for r in text.hll_registers(a.unionAll(b), "v").collect()
    }
    assert merged == rab  # sketch(A u B) == elementwise max of sketches


def test_hll_dups_dont_move_registers(spark):
    a = spark.range(100).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    ra = {r["bucket"]: r["rho"] for r in text.hll_registers(a, "v").collect()}
    rdup = {
        r["bucket"]: r["rho"]
        for r in text.hll_registers(a.unionAll(a), "v").collect()
    }
    assert ra == rdup  # idempotent: multiplicity never changes the sketch


def test_heavy_hitters_exact_equivalence(spark):
    # planted: 'hot' appears 60x, 'warm' 30x, tail words once each
    rows = [(0, " ".join(["hot"] * 60 + ["warm"] * 30))] + [
        (i, f"tail{i} filler{i}") for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # total=100 tokens, per_mille=200 -> thr=20: hot + warm only — and the
    # two physical strategies (plus auto's cost-based pick) must agree
    for strategy in ("exact", "sketch", "auto"):
        out = {
            r["word"]: r["cnt"]
            for r in text.heavy_hitters(df, per_mille=200, strategy=strategy).collect()
        }
        assert out == {"hot": 60, "warm": 30}, strategy
    # the auto rule itself, observed via the cache each branch's scope
    # holds: exact caches the (word, cnt) table, sketch caches the doc-grain
    # token ARRAYS (r11 — was the exploded stream).  A tiny PARQUET scan
    # (known stats) -> exact; an RDD-backed frame (stats unknown = Long.Max)
    # and sketch_min_bytes=0 both -> sketch, the scale-conservative branch.
    pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert held_by(spark, lambda: text.heavy_hitters(pq))[0].columns == ["word", "cnt"]
    assert held_by(spark, lambda: text.heavy_hitters(df, per_mille=200))[0].columns == ["_w"]
    assert held_by(spark, lambda: text.heavy_hitters(pq, sketch_min_bytes=0))[0].columns == ["_w"]


def test_heavy_hitters_empty_corpus(spark):
    # sum over zero rows is NULL: both strategies (and auto, which routes
    # empty/small inputs to 'exact') must return an empty frame, not raise
    empty = spark.createDataFrame([], "doc_id long, text string")
    for strategy in ("exact", "sketch", "auto"):
        assert text.heavy_hitters(empty, strategy=strategy).count() == 0, strategy


def test_cms_estimate_never_underestimates(spark):
    # the property that makes CMS pruning lossless for heavy hitters
    rows = [(i, f"w{i % 7} w{i % 13} common") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {
        r["word"]: r["cnt"]
        for r in df.select(F.explode(text.tokens("text")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    cells = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in text.count_min_sketch(df, depth=4, width=32).collect()
    }
    probed = df.select(F.explode(text.tokens("text")).alias("word")).distinct() \
        .withColumn("fp", text.portable_hash("word")).collect()
    for row in probed:
        ests = []
        for r in range(4):
            a, b = text._cms_params(r)
            ests.append(cells.get((r, ((row["fp"] * a + b) % text.CMS_MOD) % 32), 0))
        assert min(ests) >= truth[row["word"]]


def _dsir_corpus(spark):
    # 5 target docs in the alpha/beta/gamma vocabulary; 5 raw docs in a
    # disjoint xx/yy/zz vocabulary; one RAW doc written in the TARGET
    # vocabulary — the doc DSIR exists to find
    rows = (
        [(i, "alpha beta gamma alpha beta", "tgt") for i in range(5)]
        + [(10 + i, "xx yy zz xx yy", "other") for i in range(5)]
        + [(99, "alpha beta gamma gamma beta", "other")]
    )
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dsir_selects_target_like_docs(spark):
    df = _dsir_corpus(spark)
    with scoped(spark) as scope:
        out = text.dsir_importance(df, target_source="tgt", buckets=64, k=6)
        held = list(scope.held)
    got = {r["doc_id"]: r["weight_micro"] for r in out.collect()}
    # the 6 selected docs are exactly the 6 written in the target
    # vocabulary — including the raw doc 99 the method is meant to surface
    assert set(got) == {0, 1, 2, 3, 4, 99}
    # in-domain docs score strictly above every off-domain doc
    all_w = {
        r["doc_id"]: r["weight_micro"]
        for r in text.dsir_importance(df, target_source="tgt", buckets=64, k=100).collect()
    }
    assert min(got.values()) > max(all_w[d] for d in all_w if d not in got)
    # off-domain grams are rarer in target than raw -> negative log ratios
    assert all(all_w[d] < 0 for d in (10, 11, 12, 13, 14))
    # r11: the scoring pass is map-side over a literal lr array — nothing
    # corpus-sized is cached, so the scope holds nothing
    assert not held


def test_dsir_literal_lr_matches_spark_arithmetic(spark):
    """The driver-side lr computation (python log + half-away-from-zero
    micro rounding) must replicate the engines' expression text bit-for-bit
    on real counts — this pins the arithmetic the r11 literal-inline rework
    moved out of Spark (F.round(F.log(...)*1e6) over the btab join)."""
    import math

    from pyspark.sql import functions as F

    df = _dsir_corpus(spark)
    buckets = 64
    w = text.tokens("text")
    pairs = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = df.select(
        (F.col("source") == "tgt").alias("_tgt"),
        F.explode(F.concat(w, pairs)).alias("gram"),
    ).select(
        "_tgt",
        F.pmod(text.portable_hash("gram"), F.lit(buckets)).cast("int").alias("bucket"),
    )
    btab = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("qc"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("tc"),
    )
    rows = btab.collect()
    tt = sum(int(r["tc"]) for r in rows)
    qt = sum(int(r["qc"]) for r in rows)
    # the old Spark-side expression, evaluated by Spark itself
    spark_lr = {
        int(r["bucket"]): int(r["lr_micro"])
        for r in btab.select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("tc") + 1.0) * F.lit(qt + buckets))
                    / (F.lit(float(tt + buckets)) * (F.col("qc") + 1.0))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_micro"),
        ).collect()
    }
    for r in rows:
        x = (
            math.log(
                ((int(r["tc"]) + 1.0) * float(qt + buckets))
                / (float(tt + buckets) * (int(r["qc"]) + 1.0))
            )
            * 1_000_000
        )
        m = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        assert int(m) == spark_lr[int(r["bucket"])], r


def test_dsir_gumbel_resample_reproducible(spark):
    df = _dsir_corpus(spark)
    sel = lambda tau, seed: [  # noqa: E731
        r["doc_id"]
        for r in text.dsir_importance(
            df, target_source="tgt", buckets=64, k=6,
            temperature=tau, seed=seed,
        ).collect()
    ]
    # same seed -> bit-identical draw; tau->0+ recovers the deterministic
    # top-k set (noise magnitude ~1 vs weight gaps scaled by 1/tau)
    assert sel(1e-6, seed=1) == sel(1e-6, seed=1)
    assert set(sel(1e-6, seed=1)) == {0, 1, 2, 3, 4, 99}
    # huge tau -> noise dominates: still k rows, reproducible per seed,
    # and at least one seed reorders relative to the deterministic draw
    draws = {s: tuple(sel(1e9, seed=s)) for s in range(4)}
    assert all(len(set(d)) == 6 for d in draws.values())
    assert any(set(d) != {0, 1, 2, 3, 4, 99} or list(d) != sel(0, 1)
               for d in draws.values())


def test_fixed_size_sample_exact_k_and_deterministic(spark):
    from flockdb_spark.functions import splits

    rows = [(i, f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = splits.fixed_size_sample(df, k=4, group_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append((r["sample_rank"], r["doc_id"]))
    assert all(len(v) == 4 for v in by_src.values())
    assert all(sorted(r for r, _ in v) == [1, 2, 3, 4] for v in by_src.values())
    # deterministic across invocations
    again = splits.fixed_size_sample(df, k=4, group_col="source").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # different seed -> (almost surely) different draw
    other = splits.fixed_size_sample(df, k=4, group_col="source", seed=3).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_fixed_size_sample_small_group_returns_whole(spark):
    from flockdb_spark.functions import splits

    df = spark.createDataFrame([(1, "tiny"), (2, "tiny")], "doc_id long, source string")
    assert splits.fixed_size_sample(df, k=5).count() == 2


def test_token_budget_select_greedy_fill(spark):
    from flockdb_spark.functions import splits

    # source A: scores order docs 2 (all distinct), 1, 0 (most repetition)
    rows = [
        (0, "a a a a a a a a", "A"),          # 8 tokens, low score
        (1, "b b c c d d e e", "A"),          # 8 tokens, mid score
        (2, "f g h i j k l m", "A"),          # 8 tokens, top score
        (3, "n o p q", "B"),                  # 4 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in splits.token_budget_select(df, budget_tokens=16).collect()}
    # A's budget 16 fits docs 2 (cum 8) and 1 (cum 16); doc 0 (cum 24) is cut
    assert set(out) == {2, 1, 3}
    assert out[2]["cum_tokens"] == 8 and out[1]["cum_tokens"] == 16
    assert out[3]["cum_tokens"] == 4
    # a doc that straddles the boundary is dropped entirely (fit-whole rule)
    out2 = {r["doc_id"] for r in splits.token_budget_select(df, budget_tokens=15).collect()}
    assert out2 == {2, 3}


def test_kneser_ney_matches_reference_arithmetic(spark):
    rows = [(i, "a b a c a b d a") for i in range(3)] + [(9, "b c d a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): (r["c"], r["p_kn_micro"])
           for r in text.kneser_ney_bigrams(df).collect()}

    # reference recomputation with the same pinned integer ops
    from collections import Counter, defaultdict
    c12 = Counter()
    for _, t in rows:
        w = t.split(" ")
        for a, b in zip(w, w[1:]):
            c12[(a, b)] += 1
    c1, nf, npre = Counter(), Counter(), Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        nf[a] += 1
        npre[b] += 1
    tt = len(c12)
    for (a, b), c in c12.items():
        want = (4 * c - 3) * 1_000_000 // (4 * c1[a]) + (
            (3 * nf[a] * 1_000_000 // (4 * c1[a])) * (npre[b] * 1_000_000 // tt)
        ) // 1_000_000
        assert out[(a, b)] == (c, want), (a, b)

    # full-vocab distribution: observed discounted mass + backoff mass over
    # the WHOLE vocabulary sums to ~1 per left context (interpolated KN's
    # defining property; observed rows alone must sum BELOW 1)
    for a in c1:
        t1 = sum((c12[(a, b)] - 0.75) / c1[a] for b in {p[1] for p in c12 if p[0] == a})
        lam = 0.75 * nf[a] / c1[a]
        full = t1 + lam * sum(npre[b] for b in npre) / tt
        assert abs(full - 1.0) < 1e-9, (a, full)
        observed = sum(out[(a, b)][1] for b in {p[1] for p in c12 if p[0] == a})
        assert observed < 1_000_000


def test_last_touch_attribution_semantics(spark):
    from flockdb_spark.functions import stats as statsf

    # user 1: clicks at t=0 and t=100, purchase at t=150 -> credit t=100 click
    # user 2: click at t=0, purchase at t=5000 -> outside 1h horizon, dropped
    # user 3: purchase with no click -> dropped
    rows = [
        (10, "1970-01-01 00:00:00", 1, "click"),
        (11, "1970-01-01 00:01:40", 1, "click"),
        (12, "1970-01-01 00:02:30", 1, "purchase"),
        (20, "1970-01-01 00:00:00", 2, "click"),
        (21, "1970-01-01 01:23:20", 2, "purchase"),
        (30, "1970-01-01 00:00:10", 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = statsf.last_touch_attribution(df, horizon_s=3600).collect()
    assert len(out) == 1
    r = out[0]
    assert r["purchase_event_id"] == 12 and r["click_event_id"] == 11
    assert r["delay_s"] == 50


def test_personalized_pagerank_localizes_to_seeds(spark):
    from conftest import SF_DIR
    from flockdb_spark.queries import store_for

    st = store_for(spark, SF_DIR)
    ppr = {
        r["node_id"]: r["pr"]
        for r in analytics.personalized_pagerank(st.edges, graph_id=3).collect()
    }
    gpr = {
        r["node_id"]: r["pr"]
        for r in analytics.pagerank(st.edges, graph_id=3).collect()
    }
    assert set(ppr) == set(gpr)
    # total PPR mass is far below global PR mass (teleport only to seeds)
    assert sum(ppr.values()) < sum(gpr.values()) / 2
    # seeds hold most of their own teleport mass
    seeds = [n for n in ppr if n % 29 == 0]
    assert seeds and all(ppr[s] > 0 for s in seeds)
    # and the ranking differs from global PR (it IS personalized)
    top_ppr = sorted(ppr, key=ppr.get, reverse=True)[:5]
    top_gpr = sorted(gpr, key=gpr.get, reverse=True)[:5]
    assert top_ppr != top_gpr


def test_kn_surprisal_oov_scores_higher(spark):
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),       # in-distribution
            (101, "the cat sat on the chair"),     # one unseen bigram/word
            (102, "zq xv qqq zz yy ww"),           # fully OOV
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["kn_surprisal"] for r in text.kn_surprisal(train, score).collect()}
    assert out[100] < out[101] < out[102]
    # fully-OOV bigrams hit the 1-micro floor: 1e12 // 1 per bigram
    assert out[102] == 10**12


def test_collocations_rank_exclusive_pairs_first(spark):
    # "new york" only ever occur together; "the x" pairs spread over many
    # right-words -> low lift despite high frequency
    body = "new york is the city of the people and the idea of the state"
    rows = [(i, body) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.collocations(df, min_count=5, top_k=5).collect()
    assert (out[0]["w1"], out[0]["w2"]) == ("new", "york")
    lifts = {(r["w1"], r["w2"]): r["lift_micro"] for r in out}
    the_pairs = [v for (a, _), v in lifts.items() if a == "the"]
    assert all(lifts[("new", "york")] > v for v in the_pairs) or not the_pairs


def test_negative_samples_ring_properties(spark):
    from flockdb_spark.functions import splits

    # sparse, highly-offset ids (the gen_sfN replica shape) — the ring draw
    # must still fill every slot
    rows = [(i * 9_999_991 + 7, f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = splits.negative_samples(df, k=3, n_buckets=4).collect()
    assert len(out) == 40 * 3
    ids = {r[0] for r in rows}
    for r in out:
        assert r["neg_id"] in ids and r["neg_id"] != r["anchor_id"]
        assert 1 <= r["j"] <= 3
    # deterministic across runs
    again = splits.negative_samples(df, k=3, n_buckets=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # exact-duplicate candidates are excluded at pick time
    dup_rows = [(0, "same"), (1, "same"), (2, "other a"), (3, "other b")]
    ddf = spark.createDataFrame(dup_rows, "doc_id long, text string")
    douts = splits.negative_samples(ddf, k=3, n_buckets=1).collect()
    text = dict(dup_rows)
    for r in douts:
        assert text[r["neg_id"]] != text[r["anchor_id"]]


def test_lsh_auto_shape_rule(spark):
    """lsh_auto_shape implements RECALL.md's sizing rule: buckets stay under
    budget, recall model clears the target, and the measured recall at the
    shape it picks for the sf0.001 corpus actually clears 0.9."""
    import math

    from flockdb_spark.functions.similarity import (
        brute_force_topk,
        lsh_ann_topk,
        lsh_auto_shape,
    )
    from flockdb_spark.sources.edges import _read

    # model properties across 6 orders of magnitude
    for n in (2_000, 60_000, 200_000, 10**9):
        s = lsh_auto_shape(n)
        # bucket budget holds: expected population n/2^planes ≤ 512
        assert n / (1 << s["planes"]) <= 512
        p = (1 - math.acos(0.45) / math.pi) ** s["planes"]
        # at-threshold recall target met, or the explicit table budget is
        # binding (the documented trade past the cap — signing cost is
        # linear in L, so L cannot chase the target forever)
        assert (1 - (1 - p) ** s["n_tables"] >= 0.95) or s["n_tables"] == 32
    # budget actually binds: 1e9 vectors need far more planes than 2k
    assert lsh_auto_shape(10**9)["planes"] > lsh_auto_shape(2_000)["planes"]

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    shape = lsh_auto_shape(n)
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, qids, k=5, n_probe=1, **shape).collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_lsh_auto_shape_python_sql_parity():
    """The x109 oracle recomputes the shape rule in SQL; both engines must
    pick the identical (planes, n_tables) at every corpus size, or the
    gate diverges exactly when the auto rule starts mattering."""
    import duckdb

    from flockdb_spark.functions.similarity import lsh_auto_shape, lsh_auto_shape_sql

    import warnings

    from flockdb_spark.functions.similarity import (
        LshRecallWarning,
        lsh_modeled_recall,
    )

    for n in (1, 100, 500, 2_000, 8_192, 8_193, 20_000, 60_000, 200_000,
              1_000_000, 50_000_000):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", LshRecallWarning)
            want = lsh_auto_shape(
                n, threshold=0.45, target_recall=0.95, bucket_budget=512,
                min_planes=4, max_tables=32,
            )
        sql = lsh_auto_shape_sql(
            f"range({n})", threshold=0.45, target_recall=0.95,
            bucket_budget=512, min_planes=4, max_tables=32,
        )
        planes, n_tables, n_passes, n_eff = duckdb.sql(sql).fetchone()
        assert (planes, n_tables, n_passes) == (
            want["planes"], want["n_tables"], want["n_passes"],
        ), n
        assert n_eff == want["n_tables"] * want["n_passes"], n

    # the recovery closes the VERDICT r10 bar at near-dup thresholds: at
    # n=50M and cos 0.9, the pass rule must land modeled at-threshold
    # recall >= 0.9 WITHOUT any LshRecallWarning (2 passes of 32 suffice);
    # the loose cos-0.45 regime stays loud by design — it would need ~4700
    # tables (rho ~= 0.62), which no recovery can make cheap
    with warnings.catch_warnings():
        warnings.simplefilter("error", LshRecallWarning)
        s = lsh_auto_shape(50_000_000, threshold=0.9, target_recall=0.95,
                           min_planes=4, max_tables=32)
    assert s["n_passes"] > 1
    assert lsh_modeled_recall(
        s["planes"], s["n_tables"] * s["n_passes"], threshold=0.9
    ) >= 0.9
    sql = lsh_auto_shape_sql("range(50000000)", threshold=0.9,
                             target_recall=0.95, min_planes=4, max_tables=32)
    planes, n_tables, n_passes, n_eff = duckdb.sql(sql).fetchone()
    assert (planes, n_tables, n_passes) == (
        s["planes"], s["n_tables"], s["n_passes"],
    )


def test_lsh_auto_default_matches_pinned_shape(spark):
    """At small n the auto default must reproduce the RECALL.md production
    shapes exactly — x18/x06 pin (4,16)/(4,probe4,8) explicitly, so the
    default-arg call and the pinned call must return identical rows."""
    from flockdb_spark.functions.similarity import (
        lsh_ann_topk,
        lsh_auto_shape,
        lsh_neardup_pairs,
        lsh_tables_for,
    )
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    assert lsh_auto_shape(n, min_planes=4, max_tables=32) == {
        "planes": 4, "n_tables": 16, "n_passes": 1,
    }
    # ann exchange rate: n_probe=4 halves L (measured in RECALL.md)
    assert lsh_tables_for(4, 0.45, 0.95, max_tables=1 << 30) == 16

    auto = {
        (r["a"], r["b"]): r["dot_micro2"]
        for r in lsh_neardup_pairs(emb, threshold=0.45).collect()
    }
    pinned = {
        (r["a"], r["b"]): r["dot_micro2"]
        for r in lsh_neardup_pairs(
            emb, threshold=0.45, planes=4, n_tables=16
        ).collect()
    }
    assert auto == pinned and auto
    qids = [0, 1, 2]
    auto_ann = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in lsh_ann_topk(emb, qids, k=5).collect()
    }
    pinned_ann = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in lsh_ann_topk(emb, qids, k=5, planes=4, n_tables=8).collect()
    }
    assert auto_ann == pinned_ann and auto_ann


def test_quantize_arrow_matches_pandas():
    """The zero-copy Arrow quantizer must be bit-identical to the pandas
    path on boundary values: exact .5-micro half-away-from-zero rounding,
    negatives, zeros, and float32 storage widening."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from flockdb_spark.functions.similarity import _np_quantize, _quantize_arrow

    rows = [
        [0.0000005, -0.0000005, 0.0000015, -0.0000015],   # exact .5 micro
        [1.0, -1.0, 0.0, 0.9999995],
        [0.1234567, -0.7654321, 3.5e-7, -2.5e-7],
    ]
    for dtype in (pa.float32(), pa.float64()):
        arr = pa.array(
            [[np.float32(x) if dtype == pa.float32() else x for x in r] for r in rows],
            type=pa.list_(dtype),
        )
        want = _np_quantize(pd.Series(arr.to_pylist()))
        got = _quantize_arrow(arr)
        assert got.dtype == np.int64
        assert (got == want).all(), (got, want)
    # chunked input and the empty edge
    ch = pa.chunked_array([pa.array(rows[:1], pa.list_(pa.float64())),
                           pa.array(rows[1:], pa.list_(pa.float64()))])
    assert (_quantize_arrow(ch) == _np_quantize(pd.Series(rows))).all()
    assert _quantize_arrow(pa.array([], pa.list_(pa.float64()))).size == 0


def test_list_array_roundtrip():
    """_list_array must emit each matrix row as one list element, preserving
    int64 values exactly (it is re-emitted verbatim per LSH table)."""
    import numpy as np
    import pyarrow as pa  # noqa: F401

    from flockdb_spark.functions.similarity import _list_array

    mat = np.array([[1, -2, 3], [4, 5, -6]], dtype=np.int64)
    la = _list_array(mat)
    assert la.to_pylist() == [[1, -2, 3], [4, 5, -6]]


def test_quantize_arrow_offset_sliced():
    """A SLICED ListArray carries a nonzero offset — `.values` would read the
    full underlying buffer and misalign every row; `flatten()` must respect
    the slice (the classic zero-copy trap pinned here so a refactor to
    `.values` fails loudly)."""
    import numpy as np
    import pyarrow as pa

    from flockdb_spark.functions.similarity import (
        _quantize_arrow,
        _quantize_arrow_prequantized,
    )

    rows = [[0.1, 0.2], [0.3, 0.4], [0.5, 0.6], [0.7, 0.8]]
    arr = pa.array(rows, pa.list_(pa.float64())).slice(1, 2)
    got = _quantize_arrow(arr)
    assert got.shape == (2, 2)
    assert (got == np.array([[300000, 400000], [500000, 600000]])).all()

    q = pa.array([[1, 2], [3, 4], [5, 6]], pa.list_(pa.int64())).slice(2, 1)
    assert (_quantize_arrow_prequantized(q, 1) == np.array([[5, 6]])).all()


def test_phrase_match_counts_and_boundaries(spark):
    from flockdb_spark.functions import relevance

    rows = [
        (0, "a a a a"),            # overlapping "a a": 3 matches
        (1, "a b a b a"),          # "a b" twice, starts at 1 and 3
        (2, "b a"),                # no "a b"
        (3, "a"),                  # shorter than the phrase
        (4, "x a b"),              # phrase at the very end
        (5, "a b x"),              # phrase at the very start
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    aa = {r["doc_id"]: r["n_matches"] for r in relevance.phrase_match(docs, ["a", "a"]).collect()}
    assert aa == {0: 3}

    ab = {r["doc_id"]: r["n_matches"] for r in relevance.phrase_match(docs, ["a", "b"]).collect()}
    assert ab == {1: 2, 4: 1, 5: 1}

    # m=3 and a doc exactly phrase-sized
    tri = {r["doc_id"]: r["n_matches"] for r in relevance.phrase_match(docs, ["a", "b", "a"]).collect()}
    assert tri == {1: 2}  # overlapping at starts 1 and 3


def test_top_bigram_deterministic_tiebreak(spark):
    from flockdb_spark.functions import relevance

    docs = spark.createDataFrame(
        [(0, "p q"), (1, "a b"), (2, "p q"), (3, "a b")],
        "doc_id long, text string",
    )
    # counts tie at 2 — (a, b) wins on pair-ascending tie-break
    assert relevance.top_bigram(docs) == ("a", "b")


def test_hybrid_rrf_fuses_both_legs(spark):
    from flockdb_spark.functions import relevance

    # doc 1 is the LEXICAL twin of query 0 (same rare words, orthogonal
    # embedding); doc 2 is the DENSE twin (near-identical embedding, no
    # shared words); doc 3 is weak on both.
    docs = spark.createDataFrame(
        [
            (0, "zebra quark flux"),
            (1, "zebra quark flux"),
            (2, "apple banana cherry"),
            (3, "dog zebra dog"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.999, 0.04]),
            (3, [0.6, 0.8]),
        ],
        "vec_id long, embedding array<float>",
    )
    with scoped(spark):
        out = relevance.hybrid_rrf_topk(docs, emb, [0], k=4, k_dense=3, k_lex=3)
        rows = {r["doc_id"]: (r["rrf_micro"], r["rank"]) for r in out.collect()}

    # dense ranking for query 0: 2 (dot .999) > 3 (.6) > 1 (0)
    # lexical ranking: 1 (3 shared terms) > 3 (shares "zebra") ; 2 absent
    d = {2: 1, 3: 2, 1: 3}
    l = {1: 1, 3: 2}
    expect = {
        doc: (1_000_000 // (60 + d[doc]) if doc in d else 0)
        + (1_000_000 // (60 + l[doc]) if doc in l else 0)
        for doc in (1, 2, 3)
    }
    assert {k: v[0] for k, v in rows.items()} == expect
    # docs 1 and 3 appear in BOTH legs and outrank doc 2, which tops the
    # dense list but is absent from the lexical one — the fusion effect
    assert [doc for doc, _ in sorted(rows.items(), key=lambda kv: kv[1][1])] == [1, 3, 2]
    # the query doc itself is excluded
    assert 0 not in rows


def test_hybrid_rrf_literal_equals_broadcast_path(spark, monkeypatch):
    """r11: the lexical leg inlines the query-term set as literal
    expressions (array_intersect filter + term→qids map) under
    _LEX_LITERAL_MAX_TERMS and falls back to the r10 broadcast-join plan
    above it — both paths must be row-identical, including quoted terms."""
    from flockdb_spark.functions import relevance

    docs = spark.createDataFrame(
        [
            (0, "zebra qu'ark flux flux"),
            (1, "zebra qu'ark flux"),
            (2, "apple banana cherry"),
            (3, "dog zebra dog"),
            (4, "qu'ark cherry"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.999, 0.04]),
            (3, [0.6, 0.8]),
            (4, [0.3, 0.95]),
        ],
        "vec_id long, embedding array<float>",
    )

    def run():
        with scoped(spark):
            out = relevance.hybrid_rrf_topk(docs, emb, [0, 4], k=4, k_dense=3, k_lex=3)
            return sorted(tuple(r) for r in out.collect())

    lit_rows = run()
    monkeypatch.setattr(relevance, "_LEX_LITERAL_MAX_TERMS", 0)
    bc_rows = run()
    assert lit_rows == bc_rows and len(lit_rows) > 0


def test_vocab_drift_planted_shift(spark):
    from flockdb_spark.functions import stats

    # snapshot A: 'spam' absent; snapshot B: 'spam' floods to half the mass
    a = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(1, "spam spam spam spam alpha beta gamma delta")],
        "doc_id long, text string",
    )
    with scoped(spark):
        rows = stats.vocab_drift(a, b, k=3).collect()
    assert rows[0]["term"] == "spam" and rows[0]["rnk"] == 1
    # p_a = 0, p_b = 4/8 -> drift 500000 exactly
    assert rows[0]["drift_micro"] == 500_000 and rows[0]["c_a"] == 0
    # the diluted stable terms tie at |2/8e6 - 1/8e6| = 125000, term-ascending
    assert [(r["term"], r["drift_micro"]) for r in rows[1:]] == [
        ("alpha", 125_000), ("beta", 125_000)
    ]

    # the single-scan form (one tokenize, one term-keyed agg, no
    # full-outer join) must be row-identical to the two-table form
    union = a.unionByName(b)
    with scoped(spark):
        srows = stats.vocab_drift_single_scan(union, F.col("doc_id") % 2, k=3).collect()
    key = lambda r: (r["term"], r["c_a"], r["c_b"], r["p_a_micro"],  # noqa: E731
                     r["p_b_micro"], r["drift_micro"], r["rnk"])
    assert [key(r) for r in srows] == [key(r) for r in rows]
    # and its plan carries exactly ONE corpus-sized shuffle (the term agg —
    # the cached count table is referenced twice, so the SAME exchange
    # prints twice; count distinct plan ids on a FRESH plan, since AQE
    # re-instantiates fragments with new ids once executed); the totals
    # ride a broadcast, the top-k is a TakeOrdered
    import re

    with scoped(spark):
        fresh = stats.vocab_drift_single_scan(union, F.col("doc_id") % 2, k=3)
        plan = fresh._jdf.queryExecution().executedPlan().toString()
    ids = set(re.findall(r"Exchange hashpartitioning\(.*?plan_id=(\d+)", plan))
    assert len(ids) == 1, plan


def test_media_codecs_roundtrip_and_guard(spark):
    """The dependency-free PPM/WAV codecs: bytes out of encode_* are valid
    files (stdlib `wave` opens the WAV independently), decode_blob parses
    them back exactly, and unknown formats still raise the honest
    NotImplementedError guard."""
    import io
    import wave

    payload = b"hello media world" * 7

    ppm = multimodal.encode_ppm(payload)
    w, h, ns, rate, psum = multimodal.decode_blob(ppm)
    assert (w, ns, rate) == (multimodal.PPM_WIDTH, 0, 0)
    assert h == (len(payload) + 47) // 48 and psum == sum(payload)
    assert ppm.startswith(b"P6\n16 ") and len(ppm) == ppm.index(b"255\n") + 4 + 48 * h

    wav = multimodal.encode_wav(payload)
    w, h, ns, rate, psum = multimodal.decode_blob(wav)
    assert (w, h) == (0, 0)
    assert ns == len(payload) and rate == multimodal.WAV_RATE
    assert psum == sum(payload)
    # independent parser: the stdlib wave module must agree
    with wave.open(io.BytesIO(wav)) as f:
        assert f.getnchannels() == 1 and f.getsampwidth() == 2
        assert f.getframerate() == multimodal.WAV_RATE
        assert f.getnframes() == len(payload)

    with pytest.raises(NotImplementedError):
        multimodal.decode_blob(b"\x89PNG\r\n\x1a\n not supported here")

    # empty payload: 1-row black image / 0-sample wav, no crashes
    assert multimodal.decode_blob(multimodal.encode_ppm(b"")) == (16, 1, 0, 0, 0)
    assert multimodal.decode_blob(multimodal.encode_wav(b"")) == (0, 0, 0, 8000, 0)


def test_media_decode_non_ascii_and_bit_depth(spark):
    """ADVICE r7 regressions: (a) the DuckDB oracle's payload_sum must equal
    the Spark side's UTF-8 BYTE sum on non-ASCII text (the old ord-per-char
    twin diverged on any multi-byte codepoint); (b) decode_blob reads
    bits-per-sample from the fmt chunk instead of assuming 16."""
    import struct

    import duckdb

    texts = ["héllo wörld", "日本語テキスト", "emoji 🚀🔥 mix", "plain ascii", ""]
    # Spark-side ground truth: payload_sum over utf-8 bytes
    for t in texts:
        p = t.encode("utf-8")
        assert multimodal.decode_blob(multimodal.encode_wav(p))[4] == sum(p)
        assert multimodal.decode_blob(multimodal.encode_ppm(p))[4] == sum(p)
    # oracle twin: run media_decode_sql's bsum expression verbatim in DuckDB
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT row_number() OVER () - 1 AS doc_id, t AS text FROM (SELECT unnest(?) AS t)", [texts])
    sql = multimodal.media_decode_sql()
    rows = {r[0]: r for r in con.execute(sql).fetchall()}
    for i, t in enumerate(texts):
        assert rows[i][7] == sum(t.encode("utf-8")), (t, rows[i])

    # 8-bit PCM WAV: bits come from the fmt chunk (unsigned samples)
    payload = bytes([0, 1, 127, 200, 255])
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(payload), b"WAVE", b"fmt ", 16,
        1, 1, 8000, 8000, 1, 8, b"data", len(payload),
    )
    assert multimodal.decode_blob(hdr + payload) == (0, 0, 5, 8000, sum(payload))
    # unsupported depth raises loudly rather than mis-parsing
    hdr24 = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + 3, b"WAVE", b"fmt ", 16,
        1, 1, 8000, 24000, 3, 24, b"data", 3,
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_blob(hdr24 + b"\x00\x01\x02")


def test_media_decode_fast_path_matches_generic(spark):
    """decode_features_fast (JVM header audit + numpy payload sum, r10) must
    be row-identical to the generic chunk-walking decoder on canonical
    blobs — including non-ASCII payloads whose UTF-8 bytes are malformed at
    the 32-byte header-slice boundary — and must NULL the audit columns on
    a non-canonical layout instead of mis-parsing it."""
    docs = spark.createDataFrame(
        [
            (0, "plain ascii payload " * 9),
            (1, "héllo wörld 日本語 🚀" * 11),
            (2, ""),
            (3, "é" * 31),  # multi-byte char split exactly at the slice edge
            (4, "x"),
        ],
        "doc_id long, text string",
    )
    media = multimodal.synth_media(docs)
    slow = {r["doc_id"]: r.asDict() for r in multimodal.decode_features(media).collect()}
    fast = {r["doc_id"]: r.asDict() for r in multimodal.decode_features_fast(media).collect()}
    assert fast == slow

    # non-canonical layout (extra chunk between fmt and data): fast path
    # refuses (NULL audit columns); the generic walker still parses it
    import struct

    payload = bytes([1, 2, 3, 250])
    data = b"".join(struct.pack("<h", b) for b in payload)
    odd = (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + 16 + 8 + 4 + 8 + len(data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + struct.pack("<4sI", b"LIST", 4) + b"INFO"
        + struct.pack("<4sI", b"data", len(data)) + data
    )
    noncanon = spark.createDataFrame(
        [(9, "audio", bytearray(odd))], multimodal.MEDIA_SCHEMA
    )
    row = multimodal.decode_features_fast(noncanon).collect()[0]
    assert row["width"] is None and row["n_samples"] is None
    generic = multimodal.decode_features(noncanon).collect()[0]
    assert generic["n_samples"] == 4 and generic["payload_sum"] == sum(payload)


def test_synth_decode_fused_matches_two_step(spark):
    """r11: the fused synth+decode single Python pass (x111's shape — the
    blob never crosses the Arrow boundary) must be row-identical to the
    two-step pipeline (synth_media → decode_features_fast / decode_features)
    on every codec branch, including non-ASCII and empty payloads."""
    docs = spark.createDataFrame(
        [
            (0, "plain ascii payload " * 9),
            (1, "héllo wörld 日本語 🚀" * 11),
            (2, ""),
            (3, "é" * 31),
            (4, "x"),
            (5, "even doc -> ppm " * 4),
        ],
        "doc_id long, text string",
    )
    media = multimodal.synth_media(docs)
    two_step = {r["doc_id"]: r.asDict() for r in multimodal.decode_features(media).collect()}
    fast = {r["doc_id"]: r.asDict() for r in multimodal.decode_features_fast(media).collect()}
    fused = {r["doc_id"]: r.asDict() for r in multimodal.synth_decode_features(docs).collect()}
    assert fused == two_step == fast


def test_brute_force_emit_vectors_parity(spark):
    """r11: emit_vectors=True (mmr's single-corpus-pass feed) must rank
    identically to the default output and carry exactly each neighbor's
    micro-quantized vector."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    base = similarity.brute_force_topk(emb, qids, k=5).collect()
    withv = similarity.brute_force_topk(emb, qids, k=5, emit_vectors=True).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert {key(r): (r["neighbor_id"], r["dot_micro2"]) for r in withv} == {
        key(r): (r["neighbor_id"], r["dot_micro2"]) for r in base
    }
    truth = {
        r["vec_id"]: r["q"]
        for r in emb.select("vec_id", similarity.quantized("embedding").alias("q")).collect()
    }
    for r in withv:
        assert list(r["nv"]) == list(truth[r["neighbor_id"]])


def test_brute_force_query_rows_parity(spark):
    """r11 (guide §1.3): pre-collected query_rows (hybrid_rrf_topk's one-job
    construction union) must produce exactly the standalone-collect ranking —
    including vectors that crossed the union as array<double> (float→double
    widening is exact, so quantization cannot move)."""
    from flockdb_spark.sources.edges import _read
    from pyspark.sql import functions as F

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    base = similarity.brute_force_topk(emb, qids, k=5).collect()
    pre = [
        (r["vec_id"], r["v"])
        for r in emb.where(F.col("vec_id").isin(qids))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    # reversed order: the result must not depend on collection order
    withrows = similarity.brute_force_topk(
        emb, qids, k=5, query_rows=list(reversed(pre))
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert {key(r): (r["neighbor_id"], r["dot_micro2"]) for r in withrows} == {
        key(r): (r["neighbor_id"], r["dot_micro2"]) for r in base
    }


def test_rerank_is_single_pass_no_joins(spark):
    """r11 (guide §2.4/§8): the two-stage rerank recipes (binary_ann_topk,
    pq_rerank_topk) compute the exact dot INSIDE the prefilter's Arrow pass
    for the local candidates — pinned on the physical plan: ONE corpus pass
    (one MapInArrow), no joins of any kind, and the only exchange is the
    query_id candidate/ranking cut.  The corpus is never broadcast (8 GB
    cap at scale) and never shuffled."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    for build in (
        lambda: similarity.binary_ann_topk(emb, [0, 1], k=3, k_cand=10),
        lambda: similarity.pq_rerank_topk(emb, [0, 1], k=3, candidates=10),
    ):
        with scoped(spark):
            plan = build()._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        assert "Join" not in plan, plan  # no SMJ/BHJ/SHJ — nothing to join
        assert "BroadcastExchange" not in plan, plan
        assert plan.count("Exchange hashpartitioning(query_id") == 1, plan


def test_hybrid_rrf_dense_leg_auto_switch(spark, monkeypatch):
    """hybrid_rrf_topk's dense leg auto-selects: brute GEMM under the dot
    budget, LSH-bucketed ANN above it — the selector must actually switch
    legs at the threshold (VERDICT r6 item 5)."""
    from flockdb_spark.functions import relevance, similarity
    from flockdb_spark.sources.edges import _read

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]

    def plan_of(**kw):
        df = relevance.hybrid_rrf_topk(docs, emb, qids, k=5, **kw)
        return df._jdf.queryExecution().executedPlan().toString()

    lsh_calls = []
    orig_lsh = similarity.lsh_ann_topk

    def lsh_spy(*a, **kw):
        lsh_calls.append(kw)
        return orig_lsh(*a, **kw)

    monkeypatch.setattr(similarity, "lsh_ann_topk", lsh_spy)
    # under the budget: brute-force leg — no LSH bucket column anywhere
    brute_plan = plan_of()
    assert "bucket" not in brute_plan
    assert lsh_calls == []
    # budget 0 forces the ANN leg: the selector calls lsh_ann_topk
    plan_of(dense_brute_max_dots=0)
    assert len(lsh_calls) == 1

    # and at gate scale the ANN auto-shape has recall 1.0, so the fused
    # output is identical either way
    a = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in relevance.hybrid_rrf_topk(docs, emb, qids, k=5).collect()}
    b = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in relevance.hybrid_rrf_topk(
             docs, emb, qids, k=5, dense_brute_max_dots=0
         ).collect()}
    assert a == b and a

    # ADVICE r7: the leg selector's corpus count is REUSED by the ANN
    # branch's auto shape — constructing the plan runs exactly TWO count
    # jobs total: the dense selector's emb count (shared with lsh_ann_topk)
    # plus the lexical leg's one-off docs count (the n_docs literal, r9).
    # A third count would mean the ANN branch re-counting the corpus.
    _DF = type(emb)  # the concrete class (pyspark.sql.classic overrides count)

    calls = {"n": 0}
    orig_count = _DF.count

    def counting(self):
        calls["n"] += 1
        return orig_count(self)

    relevance.release_count_memo()  # force both counts to MISS the memo
    _DF.count = counting
    try:
        relevance.hybrid_rrf_topk(docs, emb, qids, k=5, dense_brute_max_dots=0)
        # and a SECOND construction serves both counts from the session memo
        # (catalog statistics — no new count jobs)
        relevance.hybrid_rrf_topk(docs, emb, qids, k=5, dense_brute_max_dots=0)
    finally:
        _DF.count = orig_count
    assert calls["n"] == 2, calls


def test_probe_fit_recovers_planted_weights(spark):
    """solve_probe inverts the exact sufficient statistics: when y IS a
    linear function of the features, the recovered weights match."""
    import numpy as np

    from flockdb_spark.functions import curation

    names = [n for n, _ in curation.PROBE_FEATURES]
    rng = np.random.default_rng(7)
    X = np.hstack(
        [np.ones((40, 1), dtype=np.int64), rng.integers(0, 50, size=(40, 5))]
    )
    w_true = np.array([3.0, -1.0, 0.5, 2.0, 0.0, -0.25])
    y = X @ w_true
    rows = []
    for i, a in enumerate(names):
        rows.append({"cell": f"{a}.y", "s": float(X[:, i] @ y)})
        for j in range(i, len(names)):
            rows.append({"cell": f"{a}.{names[j]}", "s": float(X[:, i] @ X[:, j])})
    w = curation.solve_probe(rows)
    assert np.allclose([w[n] for n in names], w_true, atol=1e-8)


def test_probe_fit_stats_end_to_end(spark):
    """Fit on a tiny corpus where 'en' docs are stopword-rich: the trained
    probe must separate the planted classes."""
    import numpy as np

    from flockdb_spark.functions import curation

    rows = [
        (i, "the a of and to the a of and to word", "en", "s", 40) for i in range(6)
    ] + [
        (10 + i, "zz4Z qq9Q xx2X yy7Y ww1W vv3V uu8U", "de", "s", 35) for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    stats_rows = curation.probe_fit_stats(docs).collect()
    assert len(stats_rows) == 27
    w = curation.solve_probe(stats_rows)
    # score both feature vectors with the fitted weights: en-like >> de-like
    names = [n for n, _ in curation.PROBE_FEATURES]

    def score(lang):
        import pyspark.sql.functions as SF

        staged = curation._staged_counts(docs.where(SF.col("lang") == lang), "text")
        fexprs = [(n, e.format(d="div", L400="400L")) for n, e in curation.PROBE_FEATURES]
        f = staged.select(*[SF.expr(e).cast("long").alias(n) for n, e in fexprs]).first()
        return sum(w[n] * f[n] for n in names)

    assert score("en") > 0.9 and score("de") < 0.1


def test_probe_fit_stats_survives_pathological_doc(spark):
    """f2 (milli mean token length) is unbounded: a single-token document of
    ~3.1e6 chars gives f2 ≈ 3.1e9, whose square exceeds int64 — the per-row
    product must widen to decimal BEFORE the multiply or Spark wraps
    silently (and the DuckDB twin raises, diverging the engines)."""
    from flockdb_spark.functions import curation

    big = "x" * 3_100_000  # one token -> nt=1, nc=3.1e6, f2 = 3.1e9
    docs = spark.createDataFrame(
        [(0, big, "en", "s", len(big)), (1, "the a of word", "de", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    f2_doc0 = (3_100_000 - 1 + 1) * 1000 // 1
    f2_doc1 = (13 - 4 + 1) * 1000 // 4
    expect = f2_doc0 * f2_doc0 + f2_doc1 * f2_doc1
    assert expect > 2**63  # the case whose 64-bit product used to wrap
    # the widened SUM exceeds int64 here, so the output BIGINT cast raises
    # CAST_OVERFLOW — the same loud failure the DuckDB twin gives (its
    # HUGEINT→BIGINT cast errors too).  What it must NEVER do is silently
    # wrap into a wrong value, which is what the pre-widening 64-bit
    # per-row product did.
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        curation.probe_fit_stats(docs).collect()
    # the decimal accumulation itself is exact: recompute the widened
    # aggregate directly
    import pyspark.sql.functions as SF

    staged = curation._staged_counts(docs, "text")
    f2 = SF.expr("((nc - nt + 1) * 1000) div nt").cast("long")
    wide = staged.select(
        (f2.cast("decimal(38,0)") * f2).alias("p")
    ).agg(SF.sum("p").cast("decimal(38,0)").alias("s")).first()["s"]
    assert int(wide) == expect


def test_multi_phrase_match_batches_and_counts(spark):
    from flockdb_spark.functions import relevance

    docs = spark.createDataFrame(
        [(0, "a b a b c d"), (1, "c d c d c d"), (2, "x y")],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, "a", "b"), (1, "c", "d"), (2, "b", "a")],
        "phrase_id long, w1 string, w2 string",
    )
    out = {
        (r["phrase_id"], r["doc_id"]): r["n_matches"]
        for r in relevance.multi_phrase_match(docs, phrases).collect()
    }
    assert out == {(0, 0): 2, (1, 0): 1, (1, 1): 3, (2, 0): 1}

    # derived fixture: top-2 bigrams with count tie broken pair-ascending
    derived = relevance.multi_phrase_match(docs, n_phrases=2)
    got = {(r["phrase_id"], r["doc_id"]): r["n_matches"] for r in derived.collect()}
    # bigram counts: (c,d)=4, (a,b)=2, (d,c)=2, (b,a)=1, ... -> top-2:
    # phrase 0 = (c,d), phrase 1 = (a,b)
    assert got == {(0, 0): 1, (0, 1): 3, (1, 0): 2}


def test_neighborhood_jaccard_planted_overlap(spark):
    # sources 1,2 share 2 of 3 destinations (J=2/4); source 3 disjoint;
    # hub destination 99 followed by everyone
    rows = []
    for s, dests in [(1, [10, 11, 12]), (2, [10, 11, 13]), (3, [20, 21])]:
        for d in dests + [99]:
            rows.append((3, s, d, d, 0, 0))
    edges = edge_rows_df(spark, rows)

    out = {
        (r["a"], r["b"]): (r["n_inter"], r["n_union"], r["jaccard_micro"])
        for r in analytics.neighborhood_jaccard(edges, 3, threshold=0.1).collect()
    }
    # with the hub, sets are {10,11,12,99} / {10,11,13,99} / {20,21,99}
    assert out[(1, 2)] == (3, 5, 600_000)
    assert out[(1, 3)] == (1, 6, 166_666) and out[(2, 3)] == (1, 6, 166_666)

    # hot-key cap drops the hub: pair (1,3)/(2,3) lose their only overlap
    capped = {
        (r["a"], r["b"]): r["jaccard_micro"]
        for r in analytics.neighborhood_jaccard(
            edges, 3, threshold=0.1, max_dest_degree=2
        ).collect()
    }
    assert capped == {(1, 2): 500_000}  # {10,11,12} vs {10,11,13}: 2/4


def test_lsh_auto_shape_warns_when_table_cap_binds(spark):
    """VERDICT r7 item 3: the capped-L recall trade must be LOUD at call
    time.  At n where the 32-table cap binds (planes grown past ~13, the
    sf10 regime where measured at-threshold recall fell to 0.53), the auto
    shape emits LshRecallWarning naming the modeled recall; at small n
    (cap not binding) it stays silent."""
    import warnings

    from flockdb_spark.functions.similarity import (
        LshRecallWarning,
        lsh_auto_shape,
        lsh_modeled_recall,
        lsh_tables_for,
    )

    # small corpus: rule reproduces the measured production shape, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", LshRecallWarning)
        shape = lsh_auto_shape(5_000, min_planes=4)
    assert shape == {"planes": 4, "n_tables": 16, "n_passes": 1}

    # sf10-like corpus at the loose 0.45 threshold: even the max_passes=4
    # recovery cannot reach 0.95 (the regime needs >1000 tables — the
    # intrinsic rho cost), so the warning still fires and names the model
    with pytest.warns(LshRecallWarning, match="modeled at-threshold recall"):
        shape = lsh_auto_shape(5_000_000, min_planes=4)
    assert shape["n_tables"] == 32
    assert shape["n_passes"] == 4  # recovery spent its budget first
    modeled = lsh_modeled_recall(
        shape["planes"], shape["n_tables"] * shape["n_passes"]
    )
    assert modeled < 0.95  # the residual trade the warning names
    # sanity: uncapped L would exceed even the recovered budget
    assert lsh_tables_for(shape["planes"], max_tables=1 << 30) > 32 * 4

    # with recovery disabled (max_passes=1) the r10 contract is unchanged
    with pytest.warns(LshRecallWarning):
        old = lsh_auto_shape(5_000_000, min_planes=4, max_passes=1)
    assert old["n_passes"] == 1 and old["n_tables"] == 32

    # and the modeled closed form matches 1-(1-p)^L exactly
    import math

    p = (1 - math.acos(0.45) / math.pi) ** shape["planes"]
    assert abs(
        modeled - (1 - (1 - p) ** (32 * shape["n_passes"]))
    ) < 1e-12


def test_pq_ann_adc_matches_brute_on_clustered_corpus(spark):
    """x112 PQ-ANN: with the deterministic per-subspace codebooks, ADC
    ranking on the label-clustered fixture recovers most of the exact
    top-k (the codes preserve cluster geometry), and the distances are
    exact int64 — re-derivable from the codebook by hand."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    pq = similarity.pq_ann_topk(emb, qids, k=10).collect()
    assert len(pq) == 30 and all(r["rank"] <= 10 for r in pq)
    # self never appears; adist ascending within each query
    by_q = {}
    for r in sorted(pq, key=lambda r: (r["query_id"], r["rank"])):
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["adist"])
    assert all(xs == sorted(xs) for xs in by_q.values())
    # recall@10 vs the exact ranking: a 100-vector corpus quantized to 16
    # codewords is the coarsest possible regime, so only a sanity floor —
    # the gate (x112) proves Spark ≡ oracle exactly; recall is the tunable
    brute = similarity.brute_force_topk(emb, qids, k=10).collect()
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute}
    got = {(r["query_id"], r["neighbor_id"]) for r in pq}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.2, recall

    # EXACTNESS of the ADC arithmetic: recompute one query's adist by hand
    # (numpy int64 on the micro grid) from the collected embeddings and the
    # deterministic codebook — every reported distance must match
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.rint(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    cw = mat[:16]  # 16 smallest ids, already id-sorted
    sub = 64 // 8

    def adist(qi, ni):
        qv, nv = mat[ids == qi][0], mat[ids == ni][0]
        total = 0
        for m in range(8):
            s = slice(m * sub, (m + 1) * sub)
            d2 = ((nv[s][None, :] - cw[:, s]) ** 2).sum(1)
            code = int(np.argmin(d2))
            total += int(((qv[s] - cw[code, s]) ** 2).sum())
        return total

    for r in pq:
        if r["query_id"] == 0:
            assert r["adist"] == adist(0, r["neighbor_id"]), r


def test_pq_trained_and_rerank(spark):
    """x113/x114: the Lloyd refinement is deterministic (two runs bit-equal),
    empty clusters keep their codeword, and the two-stage rerank returns
    exact dots that dominate raw ADC ranking quality."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]

    a = sorted(map(tuple, similarity.pq_ann_topk(
        emb, qids, k=10, train_rounds=2, n_train=64).collect()))
    b = sorted(map(tuple, similarity.pq_ann_topk(
        emb, qids, k=10, train_rounds=2, n_train=64).collect()))
    assert a == b and len(a) == 30  # deterministic end to end

    rer = similarity.pq_rerank_topk(
        emb, qids, k=5, candidates=20, train_rounds=2, n_train=64
    ).collect()
    assert len(rer) == 15
    # rerank dots are EXACT: each equals the brute dot for that pair
    brute = {(r["query_id"], r["neighbor_id"]): r["dot_micro2"]
             for r in similarity.brute_force_topk(emb, qids, k=100).collect()}
    for r in rer:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert r["dot_micro2"] == brute[key], r
    # and the rerank's top-5 recall dominates (>=) raw ADC top-5 recall
    exact5 = {(r["query_id"], r["neighbor_id"])
              for r in similarity.brute_force_topk(emb, qids, k=5).collect()}
    adc5 = {(r["query_id"], r["neighbor_id"])
            for r in similarity.pq_ann_topk(
                emb, qids, k=5, train_rounds=2, n_train=64).collect()}
    rer5 = {(r["query_id"], r["neighbor_id"]) for r in rer}
    assert len(exact5 & rer5) >= len(exact5 & adc5)


def test_ivfpq_cell_restriction_and_exact_adc(spark):
    """x115 IVF-PQ: every returned neighbor lies in one of the query's
    n_probe coarse cells, and each adist is re-derivable by hand — residual
    codebooks (seeds = the 16 ids after the centroid seeds), per-subspace
    argmin encoding, and the per-(query, cell) ADC table, all exact int64
    on the micro grid."""
    import numpy as np

    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    out = similarity.ivfpq_ann_topk(
        emb, qids, k=10, n_centroids=16, n_probe=4, n_subspaces=8, n_codes=16
    ).collect()
    assert len(out) == 30 and all(r["rank"] <= 10 for r in out)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.rint(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000
    ).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    cents, seeds = mat[:16], mat[16:32]
    # codebook = seed residual w.r.t. its own nearest cell (dot DESC, cid ASC)
    s_cell = np.argsort(-(seeds @ cents.T), axis=1, kind="stable")[:, 0]
    cw = seeds - cents[s_cell]
    sub = 64 // 8

    def cell_of(v):
        return int(np.argsort(-(cents @ v), kind="stable")[0])

    def codes_of(v):
        r = v - cents[cell_of(v)]
        return [
            int(np.argmin(((r[m * sub:(m + 1) * sub] - cw[:, m * sub:(m + 1) * sub]) ** 2).sum(1)))
            for m in range(8)
        ]

    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        qv = mat[ids == r["query_id"]][0]
        nv = mat[ids == r["neighbor_id"]][0]
        n_cell = cell_of(nv)
        # the neighbor's cell must be one of the query's 4 probe cells
        probes = np.argsort(-(cents @ qv), kind="stable")[:4]
        assert n_cell in probes, r
        # hand ADC: query residual w.r.t. the NEIGHBOR's cell vs its codes
        rq = qv - cents[n_cell]
        adist = sum(
            int(((rq[m * sub:(m + 1) * sub] - cw[c, m * sub:(m + 1) * sub]) ** 2).sum())
            for m, c in enumerate(codes_of(nv))
        )
        assert r["adist"] == adist, r


def test_mmr_rerank_replays_greedy_selection(spark):
    """x116 MMR: the Spark output replays the hand-run greedy loop pick for
    pick — λ·rel first, then λ·rel − (1−λ)·max-sim-to-selected, ties to the
    lower neighbor_id — and rank 1 is exactly the brute top-1."""
    import numpy as np

    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1]
    k, k_cand = 6, 20
    out = sorted(
        similarity.mmr_rerank_topk(emb, qids, k=k, k_cand=k_cand).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    assert len(out) == len(qids) * k

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.rint(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1_000_000
    ).astype(np.int64)

    brute = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dot_micro2"])
        for r in similarity.brute_force_topk(emb, qids, k=k_cand).collect()
    }
    for qid in qids:
        cand_ids = np.array([brute[(qid, i)][0] for i in range(1, k_cand + 1)])
        rel = np.array([brute[(qid, i)][1] for i in range(1, k_cand + 1)], dtype=np.int64)
        cmat = np.vstack([mat[ids == n][0] for n in cand_ids])
        sims = cmat @ cmat.T
        picked, avail = [], np.ones(k_cand, dtype=bool)
        expect = []
        for step in range(k):
            sc = rel - sims[:, picked].max(axis=1) if picked else rel.copy()
            live = np.nonzero(avail)[0]
            best = live[np.lexsort((cand_ids[live], -sc[live]))[0]]
            picked.append(int(best))
            avail[best] = False
            expect.append((int(cand_ids[best]), int(sc[best]), step + 1))
        got = [
            (r["neighbor_id"], r["mmr_score"], r["rank"])
            for r in out
            if r["query_id"] == qid
        ]
        assert got == expect, (qid, got, expect)
        # rank 1 is pure relevance: the brute top-1
        assert got[0][0] == brute[(qid, 1)][0]


def test_top_pc_projection_exact_replay_and_quality(spark):
    """x117: (a) the Spark output replays the integer power iteration
    bit-for-bit (floor mean, one-pass centered Gram, 8 rounds of
    sign(u)*(|u|*1e6 // max|u|)); (b) on the fixture — whose top
    eigenvalues CLUSTER (lambda1/lambda2 ~ 1.07), the regime where plain
    power iteration converges slowly in angle — the returned direction
    still captures >= 90% of the top-PC variance by Rayleigh quotient;
    (c) on a spiked spectrum (clear eigengap) 8 rounds align with numpy's
    dominant eigenvector to |cos| >= 0.999."""
    import numpy as np

    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    out = {r["vec_id"]: r["proj"] for r in similarity.top_pc_projection(emb, rounds=8).collect()}
    assert len(out) == 500

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array([r["embedding"] for r in rows], dtype=np.float64) * 1000.0
    x = (np.trunc(np.abs(m) + 0.5) * np.sign(m)).astype(np.int64)

    # (a) hand-replay in python bigints
    n, dims = x.shape
    sx = [int(s) for s in x.sum(0)]
    mu = [s // n for s in sx]
    sxx = x.T.astype(object) @ x.astype(object)
    g = [[int(sxx[i][j]) - mu[i] * sx[j] - mu[j] * sx[i] + n * mu[i] * mu[j]
          for j in range(dims)] for i in range(dims)]
    v = [1000] * dims
    for _ in range(8):
        u = [sum(g[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        mx = max(abs(t) for t in u)
        v = [(1 if t >= 0 else -1) * (abs(t) * 1_000_000 // mx) for t in u]
    for vid, xi in zip(ids, x):
        expect = sum((int(xi[d]) - mu[d]) * v[d] for d in range(dims))
        assert out[int(vid)] == expect, vid

    # (b) variance capture: Rayleigh quotient of the returned direction vs
    # the exact top eigenvalue (the meaningful quality metric when the top
    # eigenvalues cluster — angle converges at (lambda2/lambda1)^T, but any
    # near-top direction already captures near-top variance)
    xc = x - np.array(mu)
    cov = (xc.T @ xc).astype(np.float64)
    w = np.linalg.eigvalsh(cov)
    vv = np.array([float(t) for t in v])
    rayleigh = (vv @ cov @ vv) / (vv @ vv)
    assert rayleigh >= 0.9 * w.max(), rayleigh / w.max()

    # (c) spiked spectrum: a planted dominant direction converges in angle
    # variance spike: dim 5 alternates ±3000 (the mean-offset version of
    # this fixture centers away — the spike must live in the covariance)
    rng_free = [(int(i), [float(3000 if i % 2 else -3000) if d == 5 else
                          float(((i * 31 + d * 17) % 13) - 6)
                          for d in range(64)]) for i in range(200)]
    spiked = spark.createDataFrame(rng_free, "vec_id long, embedding array<double>")
    out2 = {r["vec_id"]: r["proj"] for r in similarity.top_pc_projection(spiked, rounds=8).collect()}
    m2 = np.array([e for _, e in rng_free]) * 1000.0
    x2 = (np.trunc(np.abs(m2) + 0.5) * np.sign(m2)).astype(np.int64)
    xc2 = x2 - np.floor_divide(x2.sum(0), len(x2))
    cov2 = (xc2.T @ xc2).astype(np.float64)
    w2, vecs2 = np.linalg.eigh(cov2)
    p_exact = xc2 @ vecs2[:, np.argmax(w2)]
    p_got = np.array([out2[i] for i, _ in rng_free], dtype=np.float64)
    cos = abs(p_exact @ p_got) / (np.linalg.norm(p_exact) * np.linalg.norm(p_got))
    assert cos >= 0.999, cos


def test_ivfpq_trained_deterministic_and_tighter_residuals(spark):
    """x118: the two-level trained index is deterministic end to end, honors
    the x115 output contract, and the TRAINED coarse level produces strictly
    smaller mean residual norms than x115's untrained seed cells — the
    measured reason residual PQ needs coarse training (RECALL.md)."""
    import numpy as np

    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    a = sorted(map(tuple, similarity.ivfpq_trained_ann_topk(
        emb, qids, k=10, n_train=64).collect()))
    b = sorted(map(tuple, similarity.ivfpq_trained_ann_topk(
        emb, qids, k=10, n_train=64).collect()))
    assert a == b and len(a) == 30
    assert all(r[3] <= 10 and r[0] != r[1] for r in a)  # rank<=k, no self

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array([r["embedding"] for r in rows], dtype=np.float64) * 1e6
    x = (np.trunc(np.abs(m) + 0.5) * np.sign(m)).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    x = x[order]

    # untrained coarse = the 16 smallest ids themselves (x115's level 1)
    seed_c = x[:16].astype(np.float64)
    cell_u = np.argmax(x.astype(np.float64) @ seed_c.T, axis=1)
    res_u = x - seed_c[cell_u].astype(np.int64)

    # trained coarse = 2 Lloyd rounds (replicate kmeans_fit's exact rule)
    cm = x[:16].copy()
    for _ in range(2):
        cn = (cm * cm).sum(1)
        best = (cn[None, :] - 2 * (x.astype(np.float64) @ cm.T.astype(np.float64)).astype(np.int64)).argmin(1)
        live = np.unique(best)
        cm = np.array([np.floor_divide(x[best == c].sum(0), (best == c).sum()) for c in live])
    cn = (cm * cm).sum(1)
    cell_t = (cn[None, :] - 2 * (x.astype(np.float64) @ cm.T.astype(np.float64)).astype(np.int64)).argmin(1)
    res_t = x - cm[cell_t]

    assert np.linalg.norm(res_t, axis=1).mean() < np.linalg.norm(res_u, axis=1).mean()


def test_ivfpq_guards_fire_on_tiny_corpus(spark):
    """x115/x118: a corpus too small to seed both quantization levels must
    fail LOUDLY (ValueError naming the requirement), never return a
    silently-degenerate index."""
    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_centroids \\+ n_codes"):
        similarity.ivfpq_ann_topk(tiny, [0], k=3)
    with pytest.raises(ValueError, match="n_codes"):
        similarity.ivfpq_trained_ann_topk(tiny, [0], k=3)


def test_mmr_and_ivfpq_sql_twins_valid_at_degenerate_shapes(spark):
    """ADVICE r8: mmr_rerank_sql at k=1 (no greedy rounds) and
    ivfpq_trained_sql at train_rounds=0 (serve straight from the seeded
    codebook) must emit VALID SQL — the rounds chain joins conditionally, so
    the WITH clause never ends in a dangling comma — and k=0 fails loudly."""
    import duckdb

    from flockdb_spark.sources.edges import _read

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    one = con.execute(similarity.mmr_rerank_sql([0, 1], k=1, k_cand=10)).fetchall()
    # k=1 is pure relevance: one row per query, rank 1, the brute top-1
    assert len(one) == 2 and all(r[4] == 1 for r in one)
    spark_one = {
        (r["query_id"], r["neighbor_id"], r["rel_micro2"], r["mmr_score"], r["rank"])
        for r in similarity.mmr_rerank_topk(
            _read(spark, "/root/testdata/sf0.001", "embeddings"), [0, 1], k=1, k_cand=10
        ).collect()
    }
    assert {tuple(r) for r in one} == spark_one
    r0 = con.execute(ivfpq_trained_sql_rounds0 := similarity.ivfpq_trained_sql(
        [0, 1], k=5, train_rounds=0
    )).fetchall()
    assert len(r0) == 10 and ",\n," not in ivfpq_trained_sql_rounds0
    with pytest.raises(ValueError, match="k must be >= 1"):
        similarity.mmr_rerank_sql([0], k=0)


def test_ivfpq_broadcast_release_handle(spark):
    """ADVICE r8: the IVF-PQ builders' broadcast is held by the query scope
    so repeated index builds in one session don't accumulate executor-side
    broadcast blocks; the scope's unpersist is non-destructive (a
    re-execution lazily re-ships the driver copy)."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    with scoped(spark) as scope:
        out = similarity.ivfpq_ann_topk(emb, [0], k=3)
        assert len(scope.held) == 1
        n1 = out.count()
    assert out.count() == n1  # re-execution after unpersist still works


def test_sign_sketch_packs_expected_bits(spark):
    """x120: the JVM sign-packing expression sets bit i iff component i is
    >= 0 (zero counts as non-negative), including the BIGINT sign bit."""
    rows = [
        (0, [1.0] * 64),                      # all bits -> -1 (two's complement)
        (1, [-1.0] * 64),                     # no bits -> 0
        (2, [1.0, -1.0] * 32),                # even bits -> 0x5555...
        (3, [0.0] * 64),                      # zeros are non-negative -> all bits
        (4, [-1.0] * 63 + [1.0]),             # only bit 63 -> BIGINT min
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # sign_sketch needs the quantized array column in scope
    sel = df.select("vec_id", similarity.quantized("embedding").alias("_ev"))
    got = {r["vec_id"]: r["sk"] for r in sel.select("vec_id", similarity.sign_sketch("_ev").alias("sk")).collect()}

    def pack(vals):
        acc = 0
        for i, v in enumerate(vals):
            if v >= 0:
                acc |= 1 << i
        return acc - (1 << 64) if acc >= (1 << 63) else acc

    for vid, vec in rows:
        assert got[vid] == pack(vec), (vid, got[vid], pack(vec))
    assert got[4] == -(1 << 63)


def test_binary_ann_full_candidate_budget_equals_brute(spark):
    """x120: with k_cand >= corpus size the Hamming prefilter drops nothing,
    so the exact rerank reproduces brute_force_topk row for row — and at the
    gate budget (k_cand=100) the top-1 still matches brute top-1 on the
    fixture corpus (sign agreement tracks cosine on unit vectors)."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    brute = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dot_micro2"])
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    with scoped(spark):
        full = similarity.binary_ann_topk(emb, qids, k=5, k_cand=10**6)
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["dot_micro2"])
            for r in full.collect()
        }
    assert got == brute
    with scoped(spark):
        gate = similarity.binary_ann_topk(emb, qids, k=5, k_cand=100)
        top1 = {
            r["query_id"]: r["neighbor_id"] for r in gate.collect() if r["rank"] == 1
        }
    assert top1 == {q: brute[(q, 1)][0] for q in qids}


def test_binary_ann_rotations_amplify(spark):
    """x120 r10: the rotation sketches must be GENUINELY different
    hyperplane families — (a) rotations=full-budget still equals brute
    (min-Hamming over families never drops the exact rerank), (b) the
    rotated candidate sets at the gate budget recall at least as much of
    brute top-k as the single sketch (OR-amplification can only widen),
    and (c) the diagonal packs differ from the identity pack on a vector
    where axis signs and pair-sum signs diverge."""
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2]
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }

    def hits(**kw):
        with scoped(spark):
            df = similarity.binary_ann_topk(emb, qids, k=5, **kw)
            return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}

    assert hits(k_cand=10**6, rotations=3) == brute

    truth = {q: {brute[(q, r)] for r in range(1, 6)} for q in qids}
    base = hits(k_cand=50)
    rot = hits(k_cand=50, rotations=4)
    n_base = sum(len(truth[q] & {v for (qq, _), v in base.items() if qq == q}) for q in qids)
    n_rot = sum(len(truth[q] & {v for (qq, _), v in rot.items() if qq == q}) for q in qids)
    assert n_rot >= n_base

    # (c) identity vs diagonal packs: x = (+1, -1, +1, -1, ...) has identity
    # sketch 0x5555... while the offset-1 pair sums x_i + x_{i+1} are all 0
    # (non-negative -> all bits set): the families genuinely differ — a
    # permuted or sign-flipped "rotation" could never separate these
    df = spark.createDataFrame(
        [(0, [1.0, -1.0] * 32)], "vec_id long, embedding array<double>"
    )
    sel = df.select(similarity.quantized("embedding").alias("_ev"))
    row = sel.select(
        F.expr(similarity._rot_pack("_ev", 64, 0)).alias("id_pack"),
        F.expr(similarity._rot_pack("_ev", 64, 1)).alias("diag_pack"),
    ).collect()[0]
    assert row["id_pack"] != row["diag_pack"]
    assert row["diag_pack"] == -1  # all 64 bits set (two's complement)


_ANN_OPS = {
    "brute": lambda emb, q: similarity.brute_force_topk(emb, q, k=10),
    "int8": lambda emb, q: similarity.int8_ann_topk(emb, q, k=10),
    "ivf": lambda emb, q: similarity.ivf_ann_topk(emb, q, k=10),
    "lsh": lambda emb, q: similarity.lsh_ann_topk(emb, q, k=10, planes=4, n_tables=8),
    "pq": lambda emb, q: similarity.pq_ann_topk(emb, q, k=10),
    "pq_rerank": lambda emb, q: similarity.pq_rerank_topk(emb, q, k=5, candidates=20),
    "ivfpq": lambda emb, q: similarity.ivfpq_ann_topk(emb, q, k=10),
    "ivfpq_trained": lambda emb, q: similarity.ivfpq_trained_ann_topk(emb, q, k=10),
    "binary": lambda emb, q: similarity.binary_ann_topk(emb, q, k=10, k_cand=30),
}


@pytest.mark.parametrize("op", [o for o in _ANN_OPS if o != "binary"])
def test_ann_topk_absent_query_ids_return_no_rows(spark, op):
    """A query set with no id in the corpus returns 0 rows — as every SQL
    twin does — instead of crashing on an empty query matrix (binary_ann_topk
    instead rejects absent ids with a ValueError)."""
    from conftest import SF_DIR
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, SF_DIR, "embeddings")
    assert _ANN_OPS[op](emb, [10**9]).collect() == []


@pytest.mark.parametrize(
    "op", [similarity.ivf_ann_topk, similarity.ivfpq_ann_topk, similarity.ivfpq_trained_ann_topk]
)
def test_ivf_n_probe_clamps_to_cell_count(spark, op):
    """``n_probe`` above the cell count probes every cell: the same rows as
    ``n_probe == n_centroids``."""
    from conftest import SF_DIR
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, SF_DIR, "embeddings")
    rows = [
        sorted(map(tuple, op(emb, [0, 1, 2], k=10, n_centroids=4, n_probe=p).collect()))
        for p in (4, 8)
    ]
    assert rows[0] == rows[1] and len(rows[0]) == 30


def test_arrow_pass_operators_exact_across_batch_boundaries(spark):
    """Each mapInArrow operator keeps only a per-batch LOCAL top-k; the
    global rank over the survivors must equal the default-batch result when
    every Arrow batch holds just 7 rows (fewer than k)."""
    from conftest import SF_DIR
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 7, 42]
    ops = ["brute", "int8", "ivf", "lsh", "pq", "pq_rerank", "ivfpq", "ivfpq_trained", "binary"]

    def run_all():
        return {op: sorted(map(tuple, _ANN_OPS[op](emb, qids).collect())) for op in ops}

    base = run_all()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        small = run_all()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    for op in ops:
        assert small[op] == base[op] and base[op], op


def test_semantic_dedup_auto_k_and_gemm_path(spark):
    """VERDICT r10 item 4: K auto-scales with the corpus (expected cell
    population bounded at cell_budget, so within-cell pair work stays
    ~n·budget — linear, never N²/K), and the Arrow-GEMM assignment path
    is bit-identical to the codegen expression path (the oracle is
    path-agnostic, so x123 stays valid whichever one the K routes to)."""
    from flockdb_spark.functions.similarity import semantic_dedup
    from flockdb_spark.sources.edges import _read

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()

    # auto rule: K = max(8, ceil(n / cell_budget)) — monotone in n,
    # bounded expected cell size
    small = semantic_dedup(emb, threshold=0.45, n_vectors=n, cell_budget=64)
    assert small.count() >= 0  # materializes the auto-K plan end-to-end

    # path equality at a pinned K: GEMM vs expression, full output rows
    key = lambda r: (r["vec_id"], r["cluster"], r["canonical_id"],  # noqa: E731
                     r["dist_micro2"], r["kept"])
    a = sorted(map(key, semantic_dedup(
        emb, n_clusters=12, threshold=0.45, assign="expr").collect()))
    b = sorted(map(key, semantic_dedup(
        emb, n_clusters=12, threshold=0.45, assign="gemm").collect()))
    assert a == b and len(a) > 0

    # the within-cell pair bound the auto rule buys: with K cells of
    # expected size n/K <= budget, sum(|cell|^2) stays ~n·budget; compare
    # candidate work at auto-K vs the old fixed K=8 on a skew-free count
    from pyspark.sql import functions as F

    def pair_work(k):
        asg = semantic_dedup(emb, n_clusters=k, threshold=-1.0, assign="auto")
        return asg.count()  # threshold=-1 keeps every within-cell pair edge

    assert pair_work(max(8, -(-n // 64))) <= pair_work(8)
