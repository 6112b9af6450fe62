"""The benchmark's own tests: output checking and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class FixedOracle:
    """Stands in for DuckDB with a given expected answer."""

    def __init__(self, columns, rows):
        self.answer = oracle.canonical(columns, rows)

    def expected(self, name, sql):
        return {"columns": self.answer[0], "rows": self.answer[1]}


def harness_result(order_by=False):
    """A two-pass harness result for one query returning (1, 'a'), (2, 'b')."""
    rows = [[["i", 1], ["s", "a"]], [["i", 2], ["s", "b"]]]
    execs = [
        {"query_id": 1, "pass": 0, "kind": "cold", "name": "q", "start_ms": 0, "end_ms": 10,
         "latency_s": 0.010, "rows": 2, "ok": True},
        {"query_id": 2, "pass": 1, "kind": "warm", "name": "q", "start_ms": 20, "end_ms": 25,
         "latency_s": 0.005, "rows": 2, "ok": True, "same_rows": True, "same_order": True},
    ]
    return {
        "executions": execs,
        "tasks": [[0, 1, 9, 8, 7000000, 0, 0, 0, 0, 0]], "stages": [],
        "jobs": [[1, 9]], "sql_runs": [[1, 9]], "sql_execs": [], "heap_peak_mb": 100.0, "kernels": {},
        "setup": {"setup_s": 1.2, "jvm_s": 0.2, "session_s": 0.5, "register_s": 0.5},
        "results": {"q": {"columns": ["k", "v"], "rows": rows}},
        "oracle_sql": {"q": "SELECT k, v FROM t" + (" ORDER BY k" if order_by else "")},
    }


class CheckTest(unittest.TestCase):
    def test_matching_output_passes(self):
        res = harness_result()
        bad = run.check_outputs(res, FixedOracle(["k", "v"], [(2, "b"), (1, "a")]))
        out = metrics.summarize(res, bad, cores=4, spans=[], trace=False, passes=1)["result"]
        self.assertEqual(bad, {})
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2, 0))
        self.assertAlmostEqual(out["metrics"]["warm_pass_s"]["value"], 0.005)

    def test_wrong_expected_row_fails_the_run(self):
        res = harness_result()
        bad = run.check_outputs(res, FixedOracle(["k", "v"], [(1, "a"), (2, "WRONG")]))
        out = metrics.summarize(res, bad, cores=4, spans=[], trace=False, passes=1)["result"]
        self.assertIn("q", bad)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 2)
        # a pass with a failure never reads faster than a clean one
        self.assertIsNone(out["metrics"]["warm_pass_s"]["value"])
        self.assertIsNone(out["metrics"]["cold_pass_s"]["value"])

    def test_a_bigint_is_not_a_double(self):
        res = harness_result()
        bad = run.check_outputs(res, FixedOracle(["k", "v"], [(1.0, "a"), (2.0, "b")]))
        self.assertIn("q", bad)

    def test_floats_compare_to_nine_significant_digits(self):
        res = harness_result()
        res["results"]["q"]["rows"] = [[["f", "0.1234567891"], ["s", "a"]]]
        self.assertEqual(run.check_outputs(res, FixedOracle(["k", "v"], [(0.12345678912, "a")])), {})
        self.assertIn("q", run.check_outputs(res, FixedOracle(["k", "v"], [(0.1234567, "a")])))

    def test_top_level_order_by_makes_order_matter(self):
        res = harness_result(order_by=True)
        self.assertIn("q", run.check_outputs(res, FixedOracle(["k", "v"], [(2, "b"), (1, "a")])))
        self.assertEqual(run.check_outputs(res, FixedOracle(["k", "v"], [(1, "a"), (2, "b")])), {})

    def test_a_later_pass_with_other_rows_fails(self):
        res = harness_result()
        res["executions"][1]["same_rows"] = False
        bad = run.check_outputs(res, FixedOracle(["k", "v"], [(1, "a"), (2, "b")]))
        self.assertIn("q", bad)

    def test_a_query_that_throws_fails(self):
        res = harness_result()
        res["executions"][1] = dict(res["executions"][1], ok=False, error="boom")
        del res["executions"][1]["latency_s"]
        bad = run.check_outputs(res, FixedOracle(["k", "v"], [(1, "a"), (2, "b")]))
        out = metrics.summarize(res, bad, cores=4, spans=[], trace=False, passes=1)["result"]
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_top_level_order_by_detection(self):
        f = oracle.has_top_level_order_by
        self.assertTrue(f("SELECT a FROM t ORDER BY a"))
        self.assertFalse(f("SELECT rank() OVER (ORDER BY a) FROM t"))
        self.assertFalse(f("SELECT a FROM t -- order by a"))
        self.assertFalse(f("SELECT 'order by' FROM t"))
        self.assertTrue(f("SELECT a FROM (SELECT a FROM t) x ORDER\n BY a"))


class MetricTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        value, pct, n = metrics.tail([float(i) for i in range(100)])
        self.assertEqual((value, n), (89.0, 100))
        self.assertAlmostEqual(pct, 90.0)

    def test_self_time_subtracts_child_spans(self):
        spans = [{"id": 1, "parent": None, "name": "query", "start_s": 0.0, "end_s": 1.0},
                 {"id": 2, "parent": 1, "name": "execute", "start_s": 0.2, "end_s": 1.0},
                 {"id": 3, "parent": 2, "name": "stage 1", "start_s": 0.3, "end_s": 0.6},
                 {"id": 4, "parent": 2, "name": "stage 2", "start_s": 0.5, "end_s": 0.7}]
        self_s = metrics.self_times(spans)
        self.assertAlmostEqual(self_s["query"], 0.2)
        self.assertAlmostEqual(self_s["execute"], 0.4)
        self.assertAlmostEqual(self_s["stage"], 0.5)

    def test_jobs_inside_the_definition_call_count_once_and_clipped(self):
        ex = {"start_ms": 1000, "submit_s": 0.5,
              "jobs": [[1100, 1200], [1150, 1250], [1400, 2000], [1600, 1700]],
              "sql_runs": [[1050, 1150]]}
        self.assertAlmostEqual(metrics.in_submit_s(ex), 0.3)

    def test_stage_coverage_falls_when_a_stage_has_no_span(self):
        execs = [{"query_id": 1, "name": "q", "tasks": [[7, 0, 0, 300], [8, 0, 0, 100]]}]
        spans = [{"query_id": 1, "stage_id": 7}, {"query_id": 2, "stage_id": 8}]
        self.assertAlmostEqual(metrics.stage_coverage(execs, spans), 0.75)
        spans.append({"query_id": 1, "stage_id": 8})
        self.assertAlmostEqual(metrics.stage_coverage(execs, spans), 1.0)


if __name__ == "__main__":
    unittest.main()
