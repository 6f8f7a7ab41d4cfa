#!/usr/bin/env python3
"""Recompute perfbench/expected: the DuckDB oracle's result of every
query a workload measures, over perfbench/data, one parquet file per query.

Usage: python3 perfbench/make_expected.py      (from the repository root)

Run it when a measured query's oracle SQL, a workload's sample or the
benchmark's tables change. Each
stored result is read back and compared with the live oracle result the
way tools/check.py compares (columns by name, rows sorted, dtypes and
values equal), so a type that does not survive parquet is caught here.
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build   # noqa: E402
import oracle  # noqa: E402
import run     # noqa: E402


def main():
    root = os.getcwd()
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb

    classpath = build.build(root)
    tmp = os.path.join(build.build_dir(root), "expected")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sql_file = os.path.join(tmp, "oracle_sql.json")
    subprocess.run(["java"] + run.ADD_OPENS + ["-cp", classpath, "perfbench.Harness",
                    "--oracle-sql", sql_file], check=True)
    sqls = json.load(open(sql_file))

    shutil.rmtree(oracle.EXPECTED, ignore_errors=True)
    os.makedirs(oracle.EXPECTED)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    bad = []
    for name in sorted(sqls):
        sql = sqls[name].strip().rstrip(";")
        path = os.path.join(oracle.EXPECTED, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        live = check.canon(con.execute(sql).df())
        back = check.canon(con.execute(f"SELECT * FROM read_parquet('{path}')").df())
        same = (list(live.columns) == list(back.columns) and len(live) == len(back) and
                all(str(live[c].dtype) == str(back[c].dtype) for c in live.columns) and
                not ((live != back) & ~(live.isna() & back.isna())).any().any())
        if not same:
            bad.append(name)
        print(f"{'ok' if same else 'MISMATCH'} {name} ({len(live)} rows)")
    if bad:
        raise SystemExit(f"stored results differ from the live oracle: {bad}")


if __name__ == "__main__":
    main()
