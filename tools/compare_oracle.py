#!/usr/bin/env python3
"""Local driver-mimic: compare Verify parquet dumps vs DuckDB oracle SQL.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOut>

Exits 1 when any oracled query FAILs, so the oracle floor can gate a
script; 0 otherwise.

Mirrors the driver's t2 check: for each query with an entry in
oracle_sql.json, run the SQL in DuckDB over views named after the
parquet tables, then compare against the Spark parquet dump with
columns sorted by name and rows sorted by all columns.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: floats stay floats, ints -> int64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.sql(sql).df())
            got = canon(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} got={list(got.columns)}")
            n_bad += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            n_bad += 1
            continue
        try:
            pd.testing.assert_frame_equal(want, got, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name} ({len(got)} rows)")
            n_ok += 1
        except AssertionError as e:
            # locate first differing cells for debugging
            diffs = []
            for c in want.columns:
                neq = ~((want[c] == got[c]) | (want[c].isna() & got[c].isna()))
                if neq.any():
                    i = neq.idxmax()
                    diffs.append(f"{c}[{i}]: want={want[c][i]!r} got={got[c][i]!r} (n={int(neq.sum())})")
            print(f"FAIL {name}: {'; '.join(diffs[:4]) or str(e)[:200]}")
            n_bad += 1
    # queries without an oracle: rows-only check
    import os
    for name in sorted(os.listdir(out_dir)):
        if name == "oracle_sql.json" or name in oracle:
            continue
        try:
            n = len(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            print(f"ROWS {name}: {n}")
        except Exception as e:  # noqa: BLE001
            print(f"ROWS {name}: unreadable ({e})")
    print(f"\n{n_ok} ok, {n_bad} failed, {len(oracle)} oracled")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
