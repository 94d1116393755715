"""In-engine PQ / IVFADC recall at PRODUCTION shape (VERDICT r8 item 4).

RECALL.md's C=256 serving-grade numbers were numpy lever-sweep projections;
this tool measures them with the ENGINE — pq_ann_topk / ivfpq_trained_ann_topk
at n_codes=256 with trained codebooks, plus a subspace sweep — against the
exact brute-force top-10, reporting recall@10, capture@100 (the two-stage
rerank's candidate budget) and the wall per line (index build + serve,
collected end-to-end).

Usage: python tools/pqrecall.py [sf_dir]   (writes RECALL.md-style rows)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/_sfdata/sf1.0"
K = 10
K_CAND = 100
QUERY_IDS = [0, 1, 2, 3, 4]  # queries_ext.ANN_QUERY_IDS


def ranked_lists(df) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def main() -> None:
    from flockdb_spark.functions import similarity
    from flockdb_spark.operators.classes import QueryClass, query_class
    from flockdb_spark.session import get_spark
    from flockdb_spark.sources.edges import _read

    spark = get_spark(app_name="flockdb-pqrecall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = _read(spark, SF_DIR, "embeddings").cache()
    n = emb.count()
    print(f"corpus: {n} vectors @ {SF_DIR}")

    truth = {
        q: set(ids[:K])
        for q, ids in ranked_lists(
            similarity.brute_force_topk(emb, QUERY_IDS, k=K)
        ).items()
    }

    def measure(label: str, build):
        with query_class(spark, QueryClass.SELECT_COPY):
            t0 = time.perf_counter()
            got = ranked_lists(build())
            wall = time.perf_counter() - t0
        r10 = sum(
            len(truth[q] & set(got.get(q, [])[:K])) / len(truth[q]) for q in truth
        ) / len(truth)
        cap = sum(
            len(truth[q] & set(got.get(q, []))) / len(truth[q]) for q in truth
        ) / len(truth)
        print(f"| {label} | {r10:.2f} | {cap:.2f} | {wall:.2f} |", flush=True)
        return r10, cap, wall

    print("| shape | recall@10 | capture@100 | wall_s |")
    print("|---|---|---|---|")

    # flat PQ, trained codebooks — the x113 lever at production code budget,
    # with the subspace sweep (M=4 coarser cells / M=16 finer, same C)
    for m in (4, 8, 16):
        measure(
            f"flat PQ trained C=256 M={m}",
            lambda m=m: similarity.pq_ann_topk(
                emb, QUERY_IDS, k=K_CAND, n_subspaces=m, n_codes=256,
                train_rounds=2, n_train=2048,
            ),
        )

    # trained IVFADC — BOTH levels trained (x118's recipe) at production
    # shape: k-means coarse cells, residual codebooks C=256
    for n_cent, n_probe in ((16, 4), (64, 8)):
        measure(
            f"IVFADC trained K={n_cent} probes={n_probe} C=256 M=8",
            lambda n_cent=n_cent, n_probe=n_probe: similarity.ivfpq_trained_ann_topk(
                emb, QUERY_IDS, k=K_CAND, n_centroids=n_cent, coarse_iter=2,
                n_probe=n_probe, n_subspaces=8, n_codes=256,
                train_rounds=2, n_train=2048,
            ),
        )

    # the gate shape for reference (C=16 — the oracle-tractable budget)
    measure(
        "IVFADC trained K=16 probes=4 C=16 M=8 (gate shape)",
        lambda: similarity.ivfpq_trained_ann_topk(
            emb, QUERY_IDS, k=K_CAND, n_centroids=16, coarse_iter=2,
            n_probe=4, n_subspaces=8, n_codes=16, train_rounds=2, n_train=256,
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
