#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query dir under outDir, loads the Spark parquet result and the
DuckDB oracle result (oracle_sql.json), sorts columns by name and rows by
all columns, and compares schema + values. Uses driver-side python deps
(duckdb/pandas) — NOT a dependency of the shipped Scala library.

    python3 tools/check.py <sfDir> <outDir> [--against <otherOutDir>]

`--against` also compares every query dir present in both outputs the
same way (columns by name, rows sorted), so entries with no oracle
entry are checked against another tree's Verify output.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_sig(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return list(df.columns), rows


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify writes errors.json for queries that failed plan/analysis —
    # surface each as a FAIL entry so the battery keeps a fixed shape
    # (round 7's 7 failures were silently absent from the compare).
    try:
        verify_errors = json.load(open(f"{out_dir}/errors.json"))
    except Exception:
        verify_errors = {}
    n_pass = n_fail = 0
    for name, err in sorted(verify_errors.items()):
        print(f"FAIL {name}: verify error: {err[:200]}")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if name in verify_errors:
            continue
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
            gc, gr = frame_sig(got)
            wc, wr = frame_sig(want)
            if gc != wc:
                print(f"FAIL {name}: columns {gc} != {wc}")
                n_fail += 1
            elif gr != wr:
                diffs = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
                print(f"FAIL {name}: rows {len(gr)} vs {len(wr)}; "
                      f"first diffs {diffs[:3]}")
                for i in diffs[:2]:
                    print(f"  spark : {gr[i]}")
                    print(f"  oracle: {wr[i]}")
                if len(gr) != len(wr):
                    print(f"  spark rows={len(gr)} oracle rows={len(wr)}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(gr)} rows)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {str(e).splitlines()[0][:200]}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


def query_dirs(out_dir: str):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def against(out_dir: str, other_dir: str) -> int:
    con = duckdb.connect()
    n_same = n_diff = 0
    for name in sorted(query_dirs(out_dir) & query_dirs(other_dir)):
        try:
            gc, gr = frame_sig(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            wc, wr = frame_sig(con.sql(
                f"SELECT * FROM '{other_dir}/{name}/*.parquet'").df())
        except Exception as e:
            print(f"ERROR {name}: {str(e).splitlines()[0][:200]}")
            n_diff += 1
            continue
        if gc != wc:
            print(f"DIFF {name}: columns {gc} != {wc}")
            n_diff += 1
        elif gr != wr:
            only_here = sorted(set(gr) - set(wr))
            only_there = sorted(set(wr) - set(gr))
            print(f"DIFF {name}: rows {len(gr)} vs {len(wr)}")
            for r in only_here[:2]:
                print(f"  only here : {r}")
            for r in only_there[:2]:
                print(f"  only there: {r}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(gr)} rows)")
            n_same += 1
    print(f"\nagainst {other_dir}: {n_same} identical / {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    other = None
    if "--against" in sys.argv:
        i = sys.argv.index("--against")
        if i + 1 >= len(sys.argv):
            sys.exit("--against needs another Verify output dir")
        other = sys.argv[i + 1]
        del sys.argv[i:i + 2]
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    rc = main(sf, out)
    if other:
        rc |= against(out, other)
    sys.exit(rc)
