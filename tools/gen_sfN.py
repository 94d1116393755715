"""Scale-up generator: synthesize sf(0.1 * K) parquet from the driver's sf0.1
tables, for the scaling experiment docs/history/BENCH_sf1.md (never used by the
correctness gate — the driver's own testdata stays the only gate input).

Usage: python tools/gen_sfN.py K OUT_DIR   (e.g. K=10 → ~sf1.0)

Replication strategy (replica r = 0..K-1, r=0 is the identity copy):
- fact keys shift by r·10⁹ (orderkey/custkey/suppkey/partkey/user_id/doc_id/
  vec_id) so every replica's key space is disjoint; event_id shifts by r·2³⁰
  (a multiple of 32/16/4, preserving the event_id-derived state/destination
  modulo patterns the edge derivation depends on).
- document text is token-salted per replica (every token prefixed with
  ``r<r>``) so cross-replica shingle/token sets are DISJOINT: dedup and
  near-dup pair counts scale linearly with K, as they would in a real
  corpus, instead of quadratically as naive replication would force.
- embeddings are dimension-rotated by r so cross-replica cosine is
  decorrelated (rotation preserves norms and the within-replica cluster
  structure); near-dup/ANN bucket populations scale linearly.
- timestamps are unchanged: K× events in the same wall-clock window models a
  K× busier system (sessionization/windowed outputs scale accordingly).
- dimension tables (nation/region) are copied as-is; customer/supplier/part
  replicate with the same key shifts so FK joins stay closed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
KEY_OFF = 10**9
EVENT_OFF = 2**30


def union_replicas(k: int, select_for_r) -> str:
    return "\nUNION ALL\n".join(select_for_r(r) for r in range(k))


def _rot_embedding(r: int, dims: int = 64) -> str:
    rot = r % dims
    base = (
        "embedding"
        if rot == 0
        else f"list_concat(embedding[{rot + 1}:], embedding[1:{rot}])"
    )
    return f"list_transform({base}, x -> -x)" if r >= dims else base


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/repo/_sfdata/sf1.0")
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO 16")

    for t in ["region", "nation"]:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) TO "
            f"'{out}/{t}.parquet' (FORMAT PARQUET)"
        )

    plans = {
        "orders": lambda r: f"""
            SELECT o_orderkey + {r * KEY_OFF} AS o_orderkey,
                   o_custkey + {r * KEY_OFF} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM src""",
        "lineitem": lambda r: f"""
            SELECT l_orderkey + {r * KEY_OFF} AS l_orderkey,
                   l_partkey + {r * KEY_OFF} AS l_partkey,
                   l_suppkey + {r * KEY_OFF} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM src""",
        "events": lambda r: f"""
            SELECT event_id + {r * EVENT_OFF} AS event_id, ts,
                   user_id + {r * KEY_OFF} AS user_id,
                   event_type, value, props
            FROM src""",
        "customer": lambda r: f"""
            SELECT c_custkey + {r * KEY_OFF} AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM src""",
        "supplier": lambda r: f"""
            SELECT s_suppkey + {r * KEY_OFF} AS s_suppkey, s_name,
                   s_nationkey, s_acctbal
            FROM src""",
        "part": lambda r: f"""
            SELECT p_partkey + {r * KEY_OFF} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM src""",
        # token-salt every replica>0 so cross-replica text similarity is zero
        "documents": lambda r: (
            "SELECT doc_id, text, lang, source, n_chars FROM src"
            if r == 0
            else f"""
            SELECT doc_id + {r * KEY_OFF} AS doc_id,
                   regexp_replace(text, '(\\w+)', 'r{r}\\1', 'g') AS text,
                   lang, source,
                   CAST(length(regexp_replace(text, '(\\w+)', 'r{r}\\1', 'g')) AS BIGINT) AS n_chars
            FROM src"""
        ),
        # rotate dims by r mod 64 (norm-preserving, decorrelates
        # cross-replica cosine); replicas >= 64 additionally NEGATE the
        # vector, so the replica pairs that share a rotation (r, r+64) see
        # cos' = -cos — no near-dup structure leaks between them either
        # (valid for K <= 128)
        "embeddings": lambda r: (
            "SELECT vec_id, embedding, label FROM src"
            if r == 0
            else f"""
            SELECT vec_id + {r * KEY_OFF} AS vec_id,
                   {_rot_embedding(r)} AS embedding,
                   label
            FROM src"""
        ),
    }

    for t, sel in plans.items():
        con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM read_parquet('{SRC}/{t}.parquet')")
        con.execute(
            f"COPY ({union_replicas(k, sel)}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
