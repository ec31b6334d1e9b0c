#!/usr/bin/env python
"""Strict cell-level sweep: Spark vs DuckDB oracle with NO float
tolerance.

check_oracle.py (like the driver's value-hash) rounds floats to 6
decimals before comparing; this sweep string-compares every cell after
only canonical column/row sorting.  It is deliberately STRICTER than
the gate: a float that differs in the 7th decimal between engines
passes the gate today but is one summation-order change away from
flipping a round() boundary and redding the driver hash.  Run it per
round; rounds 4 and 5 each caught latent oracle-engineering defects
(HUGEINT float casts, -0.0 vs +0.0) this way before the driver could.

Usage: python scripts/strict_sweep.py [sf_dir] [query_name ...]

Exit 0 = every oracle-backed query is cell-identical; exit 1 lists
per-query first-differing cells.  Queries whose outputs are
ill-conditioned floats (documented in __spark_entry__) may legitimately
differ here while green under the gate — the report marks them
TOLERANY-ONLY rather than failing the run when the gate-level rounded
compare still matches.
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


def canon(df: pd.DataFrame, round6: bool = False) -> pd.DataFrame:
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        kind = str(df[c].dtype).lower()
        if "float" in kind or "decimal" in kind:
            vals = df[c].astype(float)
            if round6:
                vals = vals.round(6)
            # canonicalize -0.0 before string rendering
            df[c] = (vals + 0.0).map(lambda x: repr(x))
        else:
            df[c] = df[c].map(lambda x: str(x))
    return (df.sort_values(by=list(df.columns), kind="mergesort")
            .reset_index(drop=True))


def diff_cells(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    if list(a.columns) != list(b.columns):
        return ["columns: %s vs %s" % (list(a.columns), list(b.columns))]
    if len(a) != len(b):
        return ["rows: %d vs %d" % (len(a), len(b))]
    out = []
    for c in a.columns:
        neq = a[c] != b[c]
        n = int(neq.sum())
        if n:
            i = neq.idxmax()
            out.append("col %s: %d cells differ, first row %d: spark=%s duckdb=%s"
                       % (c, n, i, a[c].iloc[i], b[c].iloc[i]))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from deepseek_ocr_omnidocbench_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="strict-sweep", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("create view %s as select * from read_parquet('%s/%s.parquet')"
                    % (t, sf_dir, t))

    oracles = entry.oracle_sql()
    strict_fail = 0
    tol_only = 0
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print("FAIL %s: %s" % (name, e))
            strict_fail += 1
            continue
        probs = diff_cells(canon(sdf), canon(ddf))
        if not probs:
            print("OK    %s: %d rows cell-identical (%.1fs)"
                  % (name, len(sdf), time.time() - t0))
            continue
        # strict mismatch — is it within the gate's rounded tolerance?
        gate_probs = diff_cells(canon(sdf, round6=True), canon(ddf, round6=True))
        if not gate_probs:
            tol_only += 1
            print("TOL   %s: gate-green but not cell-identical (%.1fs)"
                  % (name, time.time() - t0))
            for p in probs[:3]:
                print("     ", p)
        else:
            strict_fail += 1
            print("FAIL  %s (%.1fs):" % (name, time.time() - t0))
            for p in gate_probs[:5]:
                print("     ", p)
    print("strict sweep: %d FAIL, %d tolerance-only" % (strict_fail, tol_only))
    return 1 if strict_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
