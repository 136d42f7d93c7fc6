#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the Scala
library never depends on this).

Usage: python3 tools/check_correctness.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<query>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB against <sf_dir>/*.parquet views,
sorts columns by name + rows by all columns, and compares cell values exactly.

DuckDB runs in memory with its default memory_limit and threads (printed on
the summary line, so a pass set names the machine it came from). It spills to
<verify_out_dir>/.duckdb_tmp, not the caller's cwd, and does not keep
insertion order (less memory; every result is sorted here anyway).
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

def cells_equal(a, b):
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (pd.isna(a) and pd.isna(b))
    return a == b

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect(config={
        "temp_directory": os.path.join(out_dir, ".duckdb_tmp"),
        "preserve_insertion_order": False,
    })
    memory_limit, threads = con.execute(
        "SELECT current_setting('memory_limit'), current_setting('threads')").fetchone()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for q in sorted(oracle):
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir):
            print(f"FAIL {q}: no spark output dir"); n_fail += 1; continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf())
            want = canon(con.execute(oracle[q]).fetchdf())
        except Exception as e:
            print(f"FAIL {q}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {q}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {q}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        bad = None
        for c in got.columns:
            ga, wa = got[c].tolist(), want[c].tolist()
            for i, (x, y) in enumerate(zip(ga, wa)):
                if not cells_equal(x, y):
                    bad = (c, i, x, y); break
            if bad: break
        if bad:
            c, i, x, y = bad
            print(f"FAIL {q}: col={c} row={i} spark={x!r} oracle={y!r}")
            n_fail += 1
        else:
            print(f"PASS {q} ({len(got)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail "
          f"(duckdb memory_limit={memory_limit}, threads={threads})")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
