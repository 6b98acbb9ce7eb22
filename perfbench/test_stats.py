"""Tests of the benchmark's statistics helpers and of BENCHMARK.json's bounds.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def run(metrics):
    return {"correct": True, "attempted": 1, "failed": 0,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailPercentileTest(unittest.TestCase):
    def test_falls_back_to_median_below_twenty_samples(self):
        xs = list(range(1, 20))
        self.assertEqual(stats.tail_percentile(xs), (50.0, 10))

    def test_p75_needs_forty_samples(self):
        xs = list(range(1, 41))  # 40 samples: 10 beyond p75, 4 beyond p90
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 75.0)
        self.assertEqual(v, 30)
        self.assertEqual(stats.samples_beyond(40, 75.0), 10)

    def test_p99_at_thousand_samples(self):
        xs = list(range(1000))
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 99.0)  # p99.9 has only one sample beyond
        self.assertEqual(v, 989)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(1, 300, 7):
            xs = list(range(n))
            p, v = stats.tail_percentile(xs)
            if p > 50:
                self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        self.assertEqual(list(stats.quartiles(xs)), statistics.quantiles(xs, n=4))

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 5 + [11.0] * 5
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class FailureShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failure_share(40, 0), 0.0)
        self.assertEqual(stats.failure_share(40, 10), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failure_share(0, 0)


class CompareTest(unittest.TestCase):
    METRICS = [
        {"name": "round_s_p50", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
    ]

    def test_within_bounds_passes(self):
        base = [run({"round_s_p50": 10.0, "items_per_s": 100.0})] * 3
        new = [run({"round_s_p50": 10.9, "items_per_s": 91.0})] * 3
        rows, ok = stats.compare(base, new, self.METRICS)
        self.assertTrue(ok, rows)

    def test_slower_beyond_bound_regresses(self):
        base = [run({"round_s_p50": 10.0, "items_per_s": 100.0})] * 3
        new = [run({"round_s_p50": 11.5, "items_per_s": 100.0})] * 3
        rows, ok = stats.compare(base, new, self.METRICS)
        self.assertFalse(ok)
        self.assertFalse(next(r for r in rows if r["name"] == "round_s_p50")["ok"])

    def test_lower_throughput_beyond_bound_regresses(self):
        base = [run({"round_s_p50": 10.0, "items_per_s": 100.0})] * 3
        new = [run({"round_s_p50": 10.0, "items_per_s": 85.0})] * 3
        self.assertFalse(stats.compare(base, new, self.METRICS)[1])

    def test_faster_is_never_a_regression(self):
        base = [run({"round_s_p50": 10.0, "items_per_s": 100.0})] * 3
        new = [run({"round_s_p50": 5.0, "items_per_s": 300.0})] * 3
        rows, ok = stats.compare(base, new, self.METRICS)
        self.assertTrue(ok)
        self.assertLess(rows[0]["worse_by"], 0)

    def test_missing_metric_fails(self):
        base = [run({"round_s_p50": 10.0, "items_per_s": 100.0})]
        new = [run({"round_s_p50": 10.0})]
        self.assertFalse(stats.compare(base, new, self.METRICS)[1])


class BenchmarkFileTest(unittest.TestCase):

    def setUp(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            self.bench = json.load(f)

    def test_setup_metric_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


if __name__ == "__main__":
    unittest.main()
