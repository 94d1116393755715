"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual query definitions live in ``flockdb_spark.queries`` (the declared
FlockDB query set, SURVEY.md §2.e) and ``flockdb_spark.functions`` (the
LLM-data-pipeline extensions).
"""

from __future__ import annotations

import functools
import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from flockdb_spark import queries as _q  # noqa: E402
from flockdb_spark import queries_ext as _qx  # noqa: E402,F401  (registers x-series)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the Q10 supplier-pair
    intersection — load → filter → semi-join → project (SURVEY.md §7.1)."""
    return _q.QUERIES["q10_intersection"](spark, "/root/testdata/sf0.001")


#: the per-round gate depth (first N of the ordered registry)
GATE_WINDOW = 50

#: every entry whose builder, operator or oracle code changed since the
#: newest gate artifact (r12) — the one hand-kept input of the gate
#: order; tests/test_entry.py asserts it fits inside the gate window, so a
#: change never ships with only local coverage.  Ungated and red entries
#: lead the order on their own and need no listing here.
_CHANGED_IN_ROUND = [
    # compound reads: one tagged-scan evaluator (algebra.flat_flags), reads
    # built as SQL text, keyset paging, leaf counts, the service read path
    "q06_keyset_pages", "q09_where_in", "q10_intersection", "q11_union",
    "q12_difference", "q13_nested", "q14_select_edges", "q21_count_estimates",
    "q22_select_all", "q23_select2_batch", "q24_select_edges_batch",
    # apply_oplog lost its merge_strategy pass-through
    "q17_oplog_replay", "q18_mass_action",
    # the ANN top-k skeleton (similarity._ann_topk) and its users
    "x05_ann_topk", "x06_lsh_ann", "x15_ivf_ann", "x35_multiprobe_ann",
    "x52_lsh_ann_multitable", "x56_int8_ann", "x101_hybrid_rrf",
    "x110_hybrid_rrf_ann", "x112_pq_ann", "x113_pq_trained", "x114_pq_rerank",
    "x115_ivfpq_ann", "x116_mmr_rerank", "x118_ivfpq_trained",
    "x120_binary_ann",
    # the shared coarse-cell key (similarity._cell_key)
    "x69_kmeans_fit", "x98_semantic_dedup", "x123_semantic_dedup_auto",
    # relevance memo keys on input files
    "x25_bm25", "x99_bm25_topk",
    # lsh_neardup_pairs: numpy corpus signing, no persisted index
    "x18_lsh_neardup", "x38_embedding_dedup", "x53_lsh_neardup_multitable",
    "x109_lsh_auto_neardup", "x122_lsh_multipass_neardup",
]


def _is_green(result: dict) -> bool:
    return bool(
        result.get("rows_match")
        and result.get("schema_match")
        and result.get("hash_match")
        and result.get("err") is None
    )


def gate_order(names: list[str], artifacts: list[Path], changed: list[str]) -> list[str]:
    """The correctness gate runs only the first GATE_WINDOW registry entries
    each round, so the registry is ordered by gate priority, computed from
    the gate's own per-round records: entries never gated or red at their last
    gate first (registry order), then ``changed``, then every other entry by
    the round it was last green, oldest first (registry order within a
    round).  Each new artifact rotates the window with no edit."""
    last: dict[str, tuple[int, bool]] = {}
    rounds = {
        int(m[1]): p
        for p in artifacts
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    for rnd in sorted(rounds):
        for name, result in json.loads(rounds[rnd].read_text()).items():
            last[name] = (rnd, _is_green(result))
    pos = {n: i for i, n in enumerate(names)}
    fresh = [n for n in names if not last.get(n, (0, False))[1]]
    rest = [n for n in names if n not in fresh and n not in changed]
    return [
        *fresh,
        *(n for n in changed if n in pos and n not in fresh),
        *sorted(rest, key=lambda n: (last[n][0], pos[n])),
    ]


@functools.cache
def _order() -> list[str]:
    """The registry in gate order, read once from the gate's per-round
    records (one CORRECTNESS_r<N>.json per round) beside this file."""
    artifacts = Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")
    return gate_order(list(_q.QUERIES), list(artifacts), _CHANGED_IN_ROUND)


def _gate_ordered(full: dict) -> dict:
    return {n: full[n] for n in _order() if n in full}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _gate_ordered(dict(_q.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _gate_ordered(dict(_q.ORACLES))
