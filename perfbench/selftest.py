#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py          # arithmetic only, no JVM
    python3 perfbench/selftest.py --jvm    # plus one short harness run with
                                           # a deliberately failing query

Run from the repository root.
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 89)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5)[0],
                         metrics.tail(sorted([5, 1, 4, 2, 3] * 5))[0])

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)


class SlowestQuarter(unittest.TestCase):
    def test_median_over_passes_then_mean_of_slowest_quarter(self):
        # per-query medians 20, 25, 8, 4, 2: the slowest quarter of five
        # queries is the slowest two
        raw = {"latency_by_query_ms": {"q_a": [10.0, 30.0, 20.0], "q_b": [25.0, 5.0, 40.0],
                                       "q_c": [8.0], "q_d": [4.0], "q_e": [2.0]},
               "latencies_ms": [10.0, 30.0, 20.0, 25.0, 5.0, 40.0, 8.0, 4.0, 2.0],
               "setup_s": [1.0], "work_s": 2.0}
        self.assertEqual(metrics.slowest_quarter(raw), (22.5, 2, 5))
        self.assertEqual(metrics.end_to_end("query_surface", raw)["latency_tail_ms"], 22.5)

    def test_at_least_one_query(self):
        raw = {"latency_by_query_ms": {"q_a": [7.0]}}
        self.assertEqual(metrics.slowest_quarter(raw), (7.0, 1, 1))


class FailFrac(unittest.TestCase):
    def test_share_of_attempts(self):
        self.assertEqual(metrics.fail_frac(0, 215), 0.0)
        self.assertAlmostEqual(metrics.fail_frac(1, 215), 1 / 215)

    def test_nothing_attempted_is_total_failure(self):
        self.assertEqual(metrics.fail_frac(0, 0), 1.0)

    def test_surface_counts_timed_and_build_time_failures_once(self):
        raw = {"failures": {"q_a#0": "boom", "q_a#1": "boom", "q_b#0": "x"},
               "surface_failures": {"q_b": "mismatch", "q_c": "mismatch"},
               "surface_missing": [], "checked": 25, "declared": 215,
               "attempted": 40}
        attempted, failed, correct, detail = metrics.failures("query_surface", raw)
        self.assertEqual((attempted, failed, correct), (40, 3, False))
        self.assertIn("(3/25 checked", detail)

    def test_stream_counts_failed_batches_and_wrong_keys(self):
        raw = {"attempted": 1000, "failed_batch_events": 30, "wrong_keys": 2,
               "failed_batches": 1}
        attempted, failed, correct, detail = metrics.failures("live_ticks", raw)
        self.assertEqual((attempted, failed, correct), (1000, 32, False))
        self.assertIn("tick_fail_frac=0.0320", detail)


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        # root [0,100) with children [10,30) and [50,90)
        spans = [(0, "query", 0, 100, -1), (0, "build", 10, 30, 0),
                 (0, "exec", 50, 90, 0)]
        self.assertEqual(metrics.self_times(spans), [40, 20, 40])

    def test_overlapping_children_counted_once(self):
        spans = [(0, "batch", 0, 100, -1), (0, "a", 10, 60, 0), (0, "b", 40, 70, 0)]
        self.assertEqual(metrics.self_times(spans)[0], 40)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [(0, "r", 0, 100, -1), (0, "c", 0, 50, 0), (0, "g", 0, 50, 1)]
        self.assertEqual(metrics.self_times(spans), [50, 0, 50])

    def test_per_op_sums_and_skips_setup(self):
        spans = [(-1, "tables.load", 0, 5, -1), (0, "x", 0, 2_000_000, -1),
                 (1, "x", 0, 4_000_000, -1)]
        self.assertEqual(sorted(metrics.per_op_self_ms(spans)["x"]), [2.0, 4.0])
        self.assertNotIn("tables.load", metrics.per_op_self_ms(spans))


class FailingQuery(unittest.TestCase):
    """A query that throws lands in the failure count and not in the
    timings (one harness run of two slate queries plus a failing one)."""

    def test_failing_query(self):
        import run
        root = os.getcwd()
        cp, digest = run.build.build(root)
        check = run.surface_check(root, cp, digest)
        with open(check) as fh:
            names = [line.split("\t")[0] for line in fh][:2]
        raw = run.run_workload(root, "query_surface", 1, 0, 0,
                               fail_query="q_deliberately_failing", only=names)
        self.assertEqual(raw["attempted"], 3)
        self.assertEqual(list(raw["failures"]), ["q_deliberately_failing#0"])
        self.assertEqual(len(raw["latencies_ms"]), 2)
        self.assertEqual(sorted(raw["latency_by_query_ms"]), sorted(names))
        _, failed, correct, detail = metrics.failures("query_surface", raw)
        self.assertEqual(failed, 1)
        self.assertFalse(correct)
        self.assertIn("query_fail_frac", detail)


if __name__ == "__main__":
    if "--jvm" not in sys.argv:
        del FailingQuery
    else:
        sys.argv.remove("--jvm")
    unittest.main()
