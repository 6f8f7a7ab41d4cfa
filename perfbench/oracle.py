"""Oracle check of the benchmark: compares the harness's parquet outputs
with the DuckDB oracle's results through the repository's own
tools/check.py, called unmodified.

The oracle's results for the benchmark's tables are computed once by
perfbench/make_expected.py and stored under perfbench/expected, so a run
does not pay the oracle's time again: the oracle SQL handed to
tools/check.py reads the stored result of each query.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected")


def check(root, data_dir, out_dir, names, expected_dir=EXPECTED, timeout=120):
    """Run tools/check.py over `out_dir`; return (passed, failed) name lists.
    A query without a stored expected result fails."""
    present = [n for n in names
               if os.path.exists(os.path.join(expected_dir, n + ".parquet"))]
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as fh:
        json.dump({n: f"SELECT * FROM read_parquet('{os.path.join(expected_dir, n + '.parquet')}')"
                   for n in present}, fh)
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                          data_dir, out_dir],
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=timeout)
    passed, failed = [], [n for n in names if n not in present]
    for line in res.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            passed.append(name)
        elif word == "FAIL":
            failed.append(name)
            sys.stderr.write(f"[perfbench] oracle mismatch: {line[:300]}\n")
    missing = set(present) - set(passed) - set(failed)
    return passed, failed + sorted(missing)
