#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare (dev tool only —
not part of the shipped library). Usage:

    python3 tools/compare.py <sfDir> <outDir>
    python3 tools/compare.py <sfDir> <outDir> --against <oracle_sql.json>

<outDir> is a `graft.Verify` output directory.

For each key in <outDir>/oracle_sql.json: run the SQL in DuckDB with views
over the sf parquet tables, read the Spark parquet dump, sort columns by
name, and diff row-by-row (exact for non-floats, tiny epsilon report for
floats so we can judge hash-match risk).

--against <oracle_sql.json> (another build's oracle texts, e.g. the parent
commit's): for every key whose SQL text differs between the two files, also
run both texts in DuckDB and diff their rows with the same frame diff — a
rewritten oracle twin must return exactly what the text it replaces did.
"""
import argparse
import json
import sys

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def diff_frames(a, b, a_name, b_name):
    """Problems between two result frames (empty list = identical)."""
    a = a[sorted(a.columns)]
    b = b[sorted(b.columns)]
    if list(a.columns) != list(b.columns):
        return [f"columns differ: {a_name}={list(a.columns)}"
                f" {b_name}={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row count differs: {a_name}={len(a)} {b_name}={len(b)}"]
    bad = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            an = av.astype(float).to_numpy()
            bn = bv.astype(float).to_numpy()
            if not np.array_equal(an, bn, equal_nan=True):
                close = np.allclose(an, bn, rtol=1e-12, equal_nan=True)
                mism = int((~np.isclose(an, bn, rtol=1e-12,
                                        equal_nan=True)).sum())
                bad.append(f"{c}: float not bit-exact"
                           f" ({'close' if close else f'{mism} off'})")
        elif not av.equals(bv):
            n = int((av.astype(str) != bv.astype(str)).sum())
            bad.append(f"{c}: {n} rows differ")
    return bad


def sorted_rows(df):
    """Rows in a canonical order, for texts whose row order is unpinned."""
    df = df[sorted(df.columns)]
    try:
        return df.sort_values(list(df.columns), kind="mergesort",
                              na_position="last").reset_index(drop=True)
    except TypeError:  # unorderable cells (lists): keep the text's order
        return df


def main(sf_dir, out_dir, against):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            oracle_df = con.sql(sql).df()
            spark_df = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            failures.append((name, f"load/run error: {e}"))
            continue
        bad = diff_frames(oracle_df, spark_df, "oracle", "spark")
        if bad:
            failures.append((name, "; ".join(bad)))
        else:
            print(f"  OK {name} ({len(oracle_df)} rows)")
    if against:
        parent = json.load(open(against))
        changed = sorted(k for k in oracle
                         if k in parent and parent[k] != oracle[k])
        print(f"\n{len(changed)} oracle texts differ from {against}")
        for name in changed:
            try:
                old = sorted_rows(con.sql(parent[name]).df())
                new = sorted_rows(con.sql(oracle[name]).df())
            except Exception as e:
                failures.append((f"{name} (against)", f"run error: {e}"))
                continue
            bad = diff_frames(old, new, "against", "new")
            if bad:
                failures.append((f"{name} (against)", "; ".join(bad)))
            else:
                print(f"  SAME ROWS {name} ({len(new)} rows)")
    if failures:
        print("\nFAILURES:")
        for name, msg in failures:
            print(f"  FAIL {name}: {msg}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", metavar="ORACLE_SQL_JSON",
                    help="diff the rows of every changed oracle text"
                         " against this file's text for the same key")
    args = ap.parse_args()
    main(args.sf_dir, args.out_dir, args.against)
