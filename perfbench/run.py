#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload panel|ingest --seed N \
      --seconds S --trace 0|1

Builds graft and the harness (perfbench/build.py), runs the harness JVM,
checks every query output it wrote against the DuckDB oracle's stored
results (perfbench/oracle.py, through tools/check.py), and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. See perfbench/README.md for the load model and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import oracle   # noqa: E402
import summary  # noqa: E402

DATA = os.path.join(HERE, "data")
# a run, its build excluded, must end inside three minutes: the harness
# gets this long, the oracle check CHECK_S more
RUN_DEADLINE_S = 150
CHECK_S = 25

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_harness(classpath, tmp, args, deadline):
    """Run the harness JVM in its own process group; kill the group and
    fail if it outlives the deadline or exits non-zero."""
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(tmp, "jtmp"),
            "-cp", classpath, "perfbench.Harness"] + args)
    with open(os.path.join(tmp, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(tmp, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["panel", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in (os.path.join(root, "tools", "check.py"), DATA, oracle.EXPECTED):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: missing {need}")
    classpath = build.build(root)

    # every file graft, Spark and the check write lives here, cleared first
    tmp = os.path.join(build.build_dir(root), "run")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("jtmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(tmp, d))

    launched = time.time()
    result_file = os.path.join(tmp, "result.jsonl")
    spans_file = os.path.join(tmp, "spans.jsonl")
    run_harness(classpath, tmp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(len(os.sched_getaffinity(0))),
        "--data", DATA, "--out", os.path.join(tmp, "out"),
        "--local-dir", os.path.join(tmp, "local"),
        "--warehouse", os.path.join(tmp, "warehouse"),
        "--result", result_file, "--spans", spans_file,
    ], launched + RUN_DEADLINE_S)

    records = [json.loads(line) for line in open(result_file)]
    setup = next(r for r in records if r["kind"] == "setup")
    passes = [r for r in records if r["kind"] == "pass"]
    checked = next(r for r in records if r["kind"] == "check")

    _, mismatched = oracle.check(root, DATA, os.path.join(tmp, "out"),
                                 checked["queries"], timeout=CHECK_S)
    failures = summary.failed_executions(passes, checked, mismatched)
    attempted = sum(r["attempted"] for r in passes + [checked])

    if a.trace:
        spans = [json.loads(line) for line in open(spans_file)]
        metrics = summary.per_layer(passes, spans, setup["session_start_s"])
        units = dict(summary.PER_LAYER)
    else:
        setup_s = setup["ready_epoch_ms"] / 1e3 - launched
        heap = next(r for r in records if r["kind"] == "heap")
        metrics = summary.end_to_end(passes, [setup_s], heap["heap_mb"])
        units = dict(summary.END_TO_END)
        n = sum(len(p["latencies_ms"]) for p in passes)
        sys.stderr.write(f"[perfbench] {n} latencies; highest percentile with ten beyond it: "
                         f"{summary.supported_percentile(n)}\n")
    print(json.dumps(summary.result_line(failures, attempted, metrics, units)))


if __name__ == "__main__":
    main()
