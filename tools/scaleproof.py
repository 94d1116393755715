"""Dedup/ANN scale proof (VERDICT r5 item 5): run the bucketed
candidate-generating operators at sf3.0 and sf10 and show that

1. wall-time scales sub-linearly in corpus size (3.33x data between the
   two points), and
2. every bucket-size distribution stays BOUNDED — the property that makes
   the quadratic-within-bucket work safe at 100 TB: exact-dedup hash
   groups, MinHash band buckets, hyperplane LSH buckets (production
   shape planes=4 L=16), and the x71 shingle source-lists.

Usage: python tools/scaleproof.py [sf_dir ...]   (default: _sfdata/sf3.0 _sfdata/sf10)
Writes one "RESULT <json>" line per (sf_dir, metric) — collected into
SCALE.md's measured table.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def dist(df, key_cols) -> dict:
    """Bucket-size distribution of ``df`` grouped by ``key_cols``."""
    from pyspark.sql import functions as F

    sizes = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("n").alias("max"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
        F.avg("n").alias("mean"),
    ).collect()[0]
    return {
        "buckets": row["buckets"],
        "max": int(row["max"]),
        "p99": int(row["p99"]),
        "mean": round(float(row["mean"]), 2),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from flockdb_spark import queries as q
    from flockdb_spark import queries_ext as qx
    from flockdb_spark.functions import dedup, similarity
    from flockdb_spark.operators.classes import QueryClass, query_class
    from flockdb_spark.session import get_spark
    from flockdb_spark.sources.edges import _read

    sf_dirs = sys.argv[1:] or ["_sfdata/sf3.0", "_sfdata/sf10"]
    spark = get_spark(app_name="flockdb-scaleproof")
    spark.sparkContext.setLogLevel("ERROR")

    for sf_dir in sf_dirs:
        docs = _read(spark, sf_dir, "documents")
        emb = _read(spark, sf_dir, "embeddings")
        n_docs, n_vecs = docs.count(), emb.count()
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'docs': n_docs, 'vecs': n_vecs})}")

        # wall time per gated query (cold: catalog cache cleared before each)
        for name in ("x01_dedup_exact", "x03_minhash_lsh", "x18_lsh_neardup",
                     "x109_lsh_auto_neardup", "x71_source_overlap"):
            spark.catalog.clearCache()
            with query_class(spark, QueryClass.SELECT_COPY):
                t0 = time.monotonic()
                rows = q.QUERIES[name](spark, sf_dir).count()
                dt = round(time.monotonic() - t0, 2)
            print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'query': name, 'sec': dt, 'rows': rows})}")

        # bucket-size distributions of each operator's candidate grain
        spark.catalog.clearCache()
        d = dist(docs.select(F.xxhash64("text").alias("h")), ["h"])
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': 'x01 exact-hash groups', **d})}")

        corpus = qx._planted_corpus(spark, sf_dir, drop_words=2)
        sig = dedup.minhash_signatures(corpus, num_hashes=32)
        banded = dedup.minhash_band_buckets(sig, 32, 8)
        d = dist(banded, ["band", "bucket"])
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': 'x03 minhash band buckets', **d})}")

        sig = similarity._np_sign(
            emb, "vec_id", "embedding", 64, 4, "xxhash64", 16, "_id", "_v"
        )
        d = dist(sig, ["tbl", "bucket"])
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': 'x18 hyperplane buckets (planes=4 L=16)', **d})}")

        # the r7 auto-sized default: planes grows with log2(n), so the
        # bucket population must stay ~bucket_budget as the corpus scales
        auto = similarity.lsh_auto_shape(n_vecs, min_planes=4, max_tables=32)
        sig = similarity._np_sign(
            emb, "vec_id", "embedding", 64, auto["planes"], "xxhash64",
            auto["n_tables"], "_id", "_v",
        )
        d = dist(sig, ["tbl", "bucket"])
        label = f"x109 auto buckets (planes={auto['planes']} L={auto['n_tables']})"
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': label, **d})}")

        # x123 auto-K SemDeDup cells: K = max(8, ceil(n/512)) keeps the
        # expected cell population ~512, so within-cell pair work
        # (sum |cell|^2) stays ~n·512 — linear in n, the VERDICT r10
        # item-4 bound.  Reported as the assignment's cell distribution
        # plus the realized sum(|cell|^2) itself.
        asg = similarity.semantic_assign(emb, n_vectors=n_vecs)
        d = dist(asg, ["cluster"])
        pair_work = (
            asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * F.col("n")).alias("w")).collect()[0]["w"]
        )
        k_auto = max(8, -(-n_vecs // 512))
        label = f"x123 semdedup auto cells (K={k_auto})"
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': label, 'sum_cell_sq': int(pair_work), **d})}")

        sh = dedup.word_shingles(docs, 3)
        src_sh = (
            docs.select("doc_id", F.col("source").alias("_src"))
            .join(sh, "doc_id")
            .select("_src", "shingle")
            .distinct()
        )
        d = dist(src_sh, ["shingle"])
        print(f"RESULT {json.dumps({'sf_dir': sf_dir, 'buckets': 'x71 shingle source-lists', **d})}")

    spark.stop()


if __name__ == "__main__":
    main()
