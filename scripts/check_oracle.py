#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it
to the matching ``oracle_sql()`` DuckDB result: row count, column names,
and an order-insensitive value compare (columns sorted by name, rows
sorted, floats rounded).  Queries without an oracle get a rows-only
check (runs, returns a stable row count >= 0).

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
(with query names given, only those queries run — and the entry()
smoke is skipped)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: str(x))
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(6)
        elif "decimal" in str(df[c].dtype).lower():
            df[c] = df[c].astype(float).round(6)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        problems.append("columns: spark=%s duckdb=%s" % (list(a.columns), list(b.columns)))
        return problems
    if len(a) != len(b):
        problems.append("rows: spark=%d duckdb=%d" % (len(a), len(b)))
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if "float" in str(av.dtype) or "float" in str(bv.dtype):
            ok = ((av.astype(float) - bv.astype(float)).abs() < 1e-6) | (av.isna() & bv.isna())
        else:
            ok = (av.astype(str) == bv.astype(str))
        n_bad = int((~ok).sum())
        if n_bad:
            i = (~ok).idxmax()
            problems.append("col %s: %d mismatches, first at row %d: spark=%r duckdb=%r"
                            % (c, n_bad, i, av.iloc[i], bv.iloc[i]))
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from deepseek_ocr_omnidocbench_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="check_oracle", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
        except duckdb.Error:
            pass

    qs = entry.queries()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print("unknown queries:", sorted(unknown))
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name in oracles:
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {e}")
                failures += 1
                continue
            problems = compare(name, sdf, ddf)
            if problems:
                failures += 1
                print(f"FAIL {name} ({time.time() - t0:.1f}s):")
                for p in problems:
                    print("   ", p)
            else:
                print(f"OK   {name}: {len(sdf)} rows match ({time.time() - t0:.1f}s)")
        else:
            print(f"OK   {name}: rows-only, {len(sdf)} rows ({time.time() - t0:.1f}s)")
    if not only:
        print("entry() smoke:", end=" ")
        edf = entry.entry(spark).toPandas()
        print(f"{len(edf)} rows, cols={list(edf.columns)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
