#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [verifyOut] [only,names]

Assumes `sbt "runMain graft.Verify <sfDir> <verifyOut>"` already ran.
For each query in <verifyOut>/oracle_sql.json: run the SQL in DuckDB over
views named after the parquet tables, load the Spark parquet result, sort
columns by name, sort rows by all columns, compare schema + values exactly.
Each line carries the oracle's DuckDB seconds, and the run ends with the
five slowest oracles — an unrolled chain that lost a MATERIALIZED shows
up here long before it would time out a bench worker.
"""
import sys, json, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # NOTE: no bytes->hex coercion here. The driver's gate sorts raw values
    # and crashes on binary columns ("unhashable type: bytearray"), so this
    # replica must fail the same way — queries must hex-encode binary
    # columns themselves on BOTH sides.
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet({files!r})").df()
            t0 = time.perf_counter()
            ddf = con.execute(oracle[name]).df()
            secs[name] = time.perf_counter() - t0
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        sdf, ddf = canon(sdf), canon(ddf)
        probs = []
        if list(sdf.columns) != list(ddf.columns):
            probs.append(f"cols spark={list(sdf.columns)} duck={list(ddf.columns)}")
        elif len(sdf) != len(ddf):
            probs.append(f"rows spark={len(sdf)} duck={len(ddf)}")
        else:
            for c in sdf.columns:
                if str(sdf[c].dtype) != str(ddf[c].dtype):
                    probs.append(f"dtype[{c}] spark={sdf[c].dtype} duck={ddf[c].dtype}")
            if not probs and len(sdf):
                neq = (sdf != ddf) & ~(sdf.isna() & ddf.isna())
                if neq.any().any():
                    for c in sdf.columns:
                        bad = neq[c]
                        if bad.any():
                            i = bad.idxmax()
                            probs.append(
                                f"val[{c}] row{i} spark={sdf[c][i]!r} duck={ddf[c][i]!r} ({int(bad.sum())} diffs)")
        if probs:
            print(f"FAIL {name} [duck {secs[name]:.2f}s]: " + "; ".join(probs[:4]))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows) [duck {secs[name]:.2f}s]")
            n_pass += 1
    missing = [n for n in oracle if not glob.glob(f"{out}/{n}/*.parquet")]
    slow = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    print("== slowest oracles: " + ", ".join(f"{n} {t:.2f}s" for n, t in slow))
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
