"""Self-tests of the benchmark's own summary and check code.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle   # noqa: E402
import summary  # noqa: E402

ROOT = os.path.dirname(HERE)


class OrderStatistics(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        self.assertEqual(summary.median(xs), 3.5)
        self.assertEqual(summary.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = summary.quartiles(xs)
        self.assertEqual((q1, q2, q3), (1.75, 3.5, 5.25))
        self.assertAlmostEqual(summary.spread(xs), (5.25 - 1.75) / 3.5)

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertEqual(summary.supported_percentile(137), 90)   # 13.7 beyond p90
        self.assertEqual(summary.supported_percentile(100), 90)   # exactly 10
        self.assertEqual(summary.supported_percentile(99), 75)    # 9.9 beyond p90
        self.assertEqual(summary.supported_percentile(1000), 99)
        self.assertEqual(summary.supported_percentile(20), 50)
        self.assertIsNone(summary.supported_percentile(19))


class SelfTimes(unittest.TestCase):
    def span(self, kind, a, b, qid=1):
        return {"pass": 1, "id": qid, "kind": kind, "name": kind, "start_ms": a, "end_ms": b}

    def test_layers_add_up_to_the_wall(self):
        spans = [self.span("query", 0, 1000), self.span("construct", 0, 400),
                 self.span("job", 100, 200), self.span("catalyst", 200, 250),
                 self.span("catalyst", 400, 450), self.span("job", 500, 900),
                 # overlapping children are counted once
                 self.span("job", 520, 600)]
        t = summary.self_times(spans)
        self.assertAlmostEqual(t["operators.construct_s"], 0.25)
        self.assertEqual(t["operators.construct_jobs"], 1)
        self.assertAlmostEqual(t["driver.gap_s"], 0.15)

    def test_unattributed_spans_are_ignored(self):
        spans = [self.span("query", 0, 100), self.span("construct", 0, 50),
                 self.span("job", 200, 300, qid=-1)]
        t = summary.self_times(spans)
        self.assertAlmostEqual(t["operators.construct_s"], 0.05)
        self.assertAlmostEqual(t["driver.gap_s"], 0.05)


class EndToEnd(unittest.TestCase):
    def test_fastest_pass_and_median_setup(self):
        passes = [{"wall_s": w} for w in (1.0, 3.0, 2.0)]
        m = summary.end_to_end(passes, [5.0, 7.0, 6.0], 20.0)
        self.assertEqual(m, {"setup_s": 6.0, "wall_s": 1.0, "retained_heap_mb": 20.0})


class Overhead(unittest.TestCase):
    def test_neighbours_cancel_the_warm_up_trend(self):
        walls = [12.0, 11.0 * 1.1, 10.0, 9.0 * 1.1, 8.0]
        passes = [{"pass": i + 1, "traced": i % 2 == 1, "wall_s": w}
                  for i, w in enumerate(walls)]
        self.assertAlmostEqual(summary.overhead_ratio(passes), 0.1)


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_and_units_match(self):
        import json
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual(sorted((m["name"], m["unit"]) for m in b["end_to_end"]),
                         sorted(summary.END_TO_END))
        self.assertEqual(sorted((m["name"], m["unit"]) for m in b["per_layer"]),
                         sorted(summary.PER_LAYER))


class OracleCheck(unittest.TestCase):
    """A wrong output must come back as a failure, never as a success."""

    def setUp(self):
        import duckdb
        self.tmp = tempfile.TemporaryDirectory()
        self.expected = os.path.join(self.tmp.name, "expected")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.expected)
        con = duckdb.connect()
        outputs = {
            "q_right": "SELECT * FROM (VALUES (2, 'y'), (1, 'x')) t(a, b)",   # other row order
            "q_wrong": "SELECT * FROM (VALUES (1, 'x'), (3, 'y')) t(a, b)",   # one value off
            "q_renamed": "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, c)",  # one column renamed
        }
        for name, sql in outputs.items():
            con.execute(f"COPY (SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, b)) "
                        f"TO '{self.expected}/{name}.parquet' (FORMAT PARQUET)")
            os.makedirs(os.path.join(self.out, name))
            con.execute(f"COPY ({sql}) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def tearDown(self):
        self.tmp.cleanup()

    def test_wrong_outputs_fail_and_right_one_passes(self):
        names = ["q_right", "q_wrong", "q_renamed"]
        passed, failed = oracle.check(ROOT, os.path.join(HERE, "data"), self.out,
                                      names, self.expected)
        self.assertEqual(passed, ["q_right"])
        self.assertEqual(sorted(failed), ["q_renamed", "q_wrong"])
        line = summary.result_line(failed, len(names), {"wall_s": 1.0}, {"wall_s": "s"})
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 2)

    def test_missing_output_or_expectation_fails(self):
        import duckdb
        duckdb.connect().execute(f"COPY (SELECT 1 AS a) TO '{self.expected}/q_no_output.parquet' "
                                 f"(FORMAT PARQUET)")
        passed, failed = oracle.check(ROOT, os.path.join(HERE, "data"), self.out,
                                      ["q_right", "q_no_output", "q_no_expectation"],
                                      self.expected)
        self.assertEqual(passed, ["q_right"])
        self.assertEqual(sorted(failed), ["q_no_expectation", "q_no_output"])

    def test_query_that_threw_is_counted_once(self):
        import duckdb
        # q_threw threw in the check pass, so it also wrote no output
        duckdb.connect().execute(f"COPY (SELECT 1 AS a) TO '{self.expected}/q_threw.parquet' "
                                 f"(FORMAT PARQUET)")
        names = ["q_right", "q_wrong", "q_threw"]
        _, mismatched = oracle.check(ROOT, os.path.join(HERE, "data"), self.out,
                                     names, self.expected)
        self.assertIn("q_threw", mismatched)
        passes = [{"failed": [], "attempted": 3}, {"failed": ["q_threw"], "attempted": 3}]
        check = {"failed": ["q_threw"], "attempted": 3}
        failed = summary.failed_executions(passes, check, mismatched)
        self.assertEqual(sorted(failed), ["q_threw", "q_threw", "q_wrong"])
        line = summary.result_line(failed, 9, {"wall_s": 1.0}, {"wall_s": "s"})
        self.assertEqual(line["failed"], 3)
        self.assertFalse(line["correct"])


if __name__ == "__main__":
    unittest.main()
