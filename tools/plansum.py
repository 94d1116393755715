"""Plan-quality summary: one row per registered query with the physical-plan
properties that matter at 100 TB — shuffle count, broadcast joins, parquet
pushdown, whole-stage-codegen spans, and the red flags (cartesian /
nested-loop joins, single-partition exchanges over data).

Usage:  python3 tools/plansum.py [sf_dir] [query ...]   (writes PLANS.md)

The generated PLANS.md is committed so plan regressions show up in diffs the
same way correctness regressions show up in the oracle gate.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def summarize(name: str, df) -> dict:
    simple = plan_str(df, "simple")
    formatted = plan_str(df, "formatted")
    return {
        "query": name,
        "exchanges": simple.count("Exchange") - simple.count("Exchange SinglePartition"),
        "single_partition": simple.count("Exchange SinglePartition"),
        "broadcasts": simple.count("BroadcastExchange"),
        "wscg_spans": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "pushed_filters": "PushedFilters: [" in formatted
        and "PushedFilters: []" not in formatted,
        "nested_loop": ("BroadcastNestedLoopJoin" in simple)
        or ("CartesianProduct" in simple),
        "python_eval": ("ArrowEvalPython" in simple)
        or ("FlatMapGroupsInPandas" in simple)
        or ("MapInPandas" in simple)
        or ("MapInArrow" in simple)  # r6: the ANN scorers moved to mapInArrow
        or ("FlatMapGroupsInArrow" in simple)
        or ("ApplyInArrow" in simple)
        or ("BatchEvalPython" in simple),
    }


def main() -> None:
    from flockdb_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    only = set(sys.argv[2:])
    rows = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            rows.append(summarize(name, qs[name](spark, SF_DIR)))
        except Exception as e:  # noqa: BLE001 — keep the sweep going
            rows.append({"query": name, "error": str(e)[:80]})
    spark.stop()

    lines = [
        "# PLANS — physical-plan properties per query",
        "",
        f"Generated by `tools/plansum.py` at `{SF_DIR}`.  Columns: shuffle",
        "exchanges (excluding single-partition), single-partition exchanges",
        "(must only ever carry driver-sized data: final top-k merges, collected",
        "parameter lookups), broadcast exchanges, distinct whole-stage-codegen",
        "spans, parquet filter pushdown, nested-loop/cartesian joins (red flag",
        "unless the small side is bounded), and Python/Arrow evaluation nodes",
        "(allowed only for vector GEMM and the multimodal decode plumbing).",
        "",
        "| query | shuffles | 1-part | bcast | wscg | pushdown | nested-loop | python |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['query']} | ERROR: {r['error']} | | | | | | |")
            continue
        lines.append(
            "| {query} | {exchanges} | {single_partition} | {broadcasts} | "
            "{wscg_spans} | {pushed_filters} | {nested_loop} | {python_eval} |".format(
                **{
                    k: ("yes" if v is True else "no" if v is False else v)
                    for k, v in r.items()
                }
            )
        )
    lines += [
        "",
        "## Red-flag audit (bounded by construction)",
        "",
        "- **nested-loop joins** — every occurrence is a broadcast nested loop",
        "  whose build side is driver-sized by construction: x47's 1-row total",
        "  dims table, x54's 1-row corpus totals joined onto the per-source",
        "  count table.  No data-sized cartesian exists in any plan.",
        "- **single-partition exchanges** — final driver-sized merges only:",
        "  x33/x47's ≤32-row offset/total tables, x54's 1-row totals agg.",
        "- **python/arrow nodes** — the vectorized GEMM paths (ANN sign/score,",
        "  int8 codes, fingerprint rolling hash) and the multimodal decode",
        "  plumbing; every one is Arrow-batched, none is a row-at-a-time UDF.",
        "",
        "## Known job-floor residuals",
        "",
        "- **q07** is a pruned primary scan plus one hash exchange: the",
        "  reference forces its UNIQUE (source_id, destination_id) index for",
        "  dest-ordered scans (shards/SqlShard.scala:240-244); here the one",
        "  store layout serves it — graph_id partition pruned, the 10-source",
        "  probe inlined per R9's <=64 IN rule and pushed to parquet (source-",
        "  range file skipping), then one hashpartitioning(source_id)",
        "  exchange of the surviving rows feeds the rank window.  2 jobs /",
        "  3 stages / 5 tasks at sf0.1 (the bucketed twin it replaced ran 1 /",
        "  1 / 8 at the same ~0.3 s warm wall); the residual is the Spark",
        "  job floor (DuckDB's denominator is sub-0.1 s).",
        "- **q17** (the only core line whose identical-scale ratio rose",
        "  r6→r7, 7.2x→10.1x at sf1.0) re-audited in r8 with the status",
        "  tracker: the whole replay is exactly 2 jobs / 3 stages / 72",
        "  tasks at sf1.0 — one map-side partial aggregation over the op",
        "  derivation and one shuffle-read + sequenced-fold + write stage;",
        "  no avoidable actions.  Re-measured walls 0.51-0.73 s vs r6's",
        "  0.58 s (identical code, identical plan): the r7 driver row",
        "  (0.92 s) was box noise on a sub-second line, which bench.py's",
        "  median-with-spread throughput reporting now surfaces instead of",
        "  absorbing.",
        "- **x91** (sf3.0 wall drifted 4.03 s r6 → 4.89 s r8final on untouched",
        "  code — VERDICT r8 item 3) re-audited in r9 with the status tracker:",
        "  pinned min-of-4 at sf3.0 measures **3.79 s** (passes 3.99/3.79/3.79",
        "  after the first-pass cache build), steady state exactly 7 jobs /",
        "  17 stages / 850 tasks — identical plan, no lost ReusedExchange.",
        "  The r8final 4.89 s was box drift (that box measured ~15% slow",
        "  across the whole headline); the shuffle chain is intact.",
    ]
    Path("PLANS.md").write_text("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
