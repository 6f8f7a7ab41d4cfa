"""Summary arithmetic of the benchmark: order statistics, span self times,
and the metric dictionaries run.py prints. Pure functions over the
harness's records, so perfbench/test_summary.py can test them alone.
"""
import statistics

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("retained_heap_mb", "MB")]

PER_LAYER = [
    ("GraftSession.start_s", "s"),
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("codegen.compiles", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_s", "s"),
    ("scheduler.delay_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.peak_mem_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("Tables.input_mb", "MB"), ("Tables.input_rows", "count"),
    ("Ckpt.persisted_rdds", "count"), ("MatStore.cached_mb", "MB"),
    ("IndexStore.files", "count"), ("IndexStore.footprint_mb", "MB"),
    ("driver.gap_s", "s"), ("jvm.peak_heap_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
]


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def supported_percentile(n, ladder=(99, 95, 90, 75, 50), beyond=10):
    """Highest percentile of `ladder` with at least `beyond` of n samples
    above it, or None when even the lowest has fewer."""
    for p in ladder:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(intervals, a, b):
    """Length of [a, b] covered by the union of `intervals`."""
    return sum(max(0, min(y, b) - max(x, a)) for x, y in union(intervals))


def self_times(spans):
    """Construction self time, eager construction jobs and the unattributed
    driver gap, in seconds, over the given spans (epoch-ms dicts with
    kind query/construct/job/catalyst and a shared query id)."""
    by_id = {}
    for s in spans:
        by_id.setdefault(s["id"], []).append(s)
    construct = gap = 0.0
    jobs_in_construct = 0
    for qid, group in by_id.items():
        q = [s for s in group if s["kind"] == "query"]
        c = [s for s in group if s["kind"] == "construct"]
        if qid < 0 or not q or not c:
            continue
        q, c = q[0], c[0]
        jobs = [(s["start_ms"], s["end_ms"]) for s in group if s["kind"] == "job"]
        phases = [(s["start_ms"], s["end_ms"]) for s in group if s["kind"] == "catalyst"]
        # construction self time: the construct span minus what its child
        # jobs and Catalyst phases cover
        busy = jobs + phases
        c_self = (c["end_ms"] - c["start_ms"]) - covered(busy, c["start_ms"], c["end_ms"])
        wall = q["end_ms"] - q["start_ms"]
        construct += c_self
        gap += wall - c_self - covered(busy, q["start_ms"], q["end_ms"])
        jobs_in_construct += sum(1 for a, _ in jobs if c["start_ms"] <= a <= c["end_ms"])
    return {"operators.construct_s": construct / 1e3,
            "operators.construct_jobs": float(jobs_in_construct),
            "driver.gap_s": gap / 1e3}


def end_to_end(passes, setups, heap_mb):
    """End-to-end metrics from the timed pass records of an untraced run,
    the run's set-up times (seconds) and its retained heap (MB)."""
    return {"setup_s": median(setups), "wall_s": min(p["wall_s"] for p in passes),
            "retained_heap_mb": heap_mb}


def failed_executions(passes, check, mismatched):
    """Names of the failed executions: those that threw or were cancelled
    in a timed pass or the check pass, and the check pass's outputs the
    oracle rejected. A check-pass query that threw also has no output for
    the oracle, so it is counted once."""
    check_failed = list(check["failed"])
    return ([n for p in passes for n in p["failed"]] + check_failed +
            [n for n in mismatched if n not in check_failed])


def per_layer(passes, spans, session_start_s):
    """Per-layer metrics of a traced run: each counter summed per traced
    pass, then the median over traced passes; passes alternate untraced
    and traced, starting and ending untraced."""
    traced = [p for p in passes if p["traced"]]
    rows = []
    for p in traced:
        row = dict(p["counts"])
        row.update(self_times([s for s in spans if s["pass"] == p["pass"]]))
        rows.append(row)
    out = {}
    for name, _ in PER_LAYER:
        vals = [r.get(name, 0.0) for r in rows]
        if vals:
            out[name] = median(vals)
    out["GraftSession.start_s"] = session_start_s
    out["trace.overhead_ratio"] = overhead_ratio(passes)
    return out


def overhead_ratio(passes):
    """Median over traced passes of the pass wall divided by the mean wall
    of its untraced neighbours, minus 1. Passes get faster as the JIT warms
    up; comparing with both neighbours cancels that trend."""
    walls = {p["pass"]: p["wall_s"] for p in passes}
    ratios = [p["wall_s"] / ((walls[p["pass"] - 1] + walls[p["pass"] + 1]) / 2) - 1
              for p in passes
              if p["traced"] and p["pass"] - 1 in walls and p["pass"] + 1 in walls]
    return median(ratios)


def result_line(failed_names, attempted, metrics, units):
    """The benchmark's last stdout line."""
    return {"correct": not failed_names, "attempted": attempted,
            "failed": len(failed_names),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


if __name__ == "__main__":
    # Steadiness of repeated runs: feed it the last stdout lines of several
    # runs, one JSON result per line, e.g.
    #   for s in $(seq 1 10); do python3 perfbench/run.py ... --seed $s | tail -1; done \
    #     | python3 perfbench/summary.py
    import json
    import sys
    runs = [json.loads(line)["metrics"] for line in sys.stdin if line.strip()]
    for name in runs[0]:
        vals = [r[name]["value"] for r in runs]
        q1, q2, q3 = quartiles(vals)
        print(f"{name:28s} median {q2:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread(vals):.3f}")
