"""Local replica of the driver's t2 correctness gate: run each queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet tables and
compare row counts, column names, and (sorted) values.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # a pathological oracle (recursive closure / per-anchor sorts at sf3+)
    # must fail loudly, not fill the disk: x97's twin spilled >75 GB before
    # this cap existed
    con.execute("SET max_temp_directory_size='30GB'")
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differ: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            ka, kb = a[c].dtype.kind, b[c].dtype.kind
            if ka == "f" or kb == "f":
                # The driver's gate hashes stringified values, so an
                # int64-vs-float64 dtype split ("123" vs "123.0") is a hash
                # mismatch even when the values are numerically equal —
                # classic cause: DuckDB sum(BIGINT) returns HUGEINT which
                # pandas renders as float64.  Flag it as hard FAIL locally.
                if ka != kb:
                    problems.append(
                        f"dtype kind mismatch on {c}: spark={a[c].dtype} "
                        f"duck={b[c].dtype} (driver hash would differ — "
                        f"CAST the oracle column)"
                    )
                    continue
                import numpy as np

                if not np.allclose(
                    a[c].astype(float).fillna(-1e300),
                    b[c].astype(float).fillna(-1e300),
                    rtol=0,
                    atol=1e-9,
                ):
                    problems.append(f"float column {c} differs")
                elif not (
                    a[c].fillna(-1e300) == b[c].fillna(-1e300)
                ).all():
                    problems.append(
                        f"float column {c}: values within atol but not "
                        f"bit-equal (driver hash would differ)"
                    )
            else:
                if not a[c].astype(str).equals(b[c].astype(str)):
                    diffs = (a[c].astype(str) != b[c].astype(str)).sum()
                    problems.append(f"column {c}: {diffs} differing values")
    return problems


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from flockdb_spark.operators.classes import QueryClass, query_class
    from flockdb_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duck_connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # the entry's caches end with its scope, not at the next entry
            with query_class(spark, QueryClass.SELECT_COPY):
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} (no oracle, rows-only check)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(sdf)}")
    spark.stop()
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
