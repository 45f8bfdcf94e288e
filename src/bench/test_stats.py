"""Unit checks of the benchmark's arithmetic: `python3 src/bench/test_stats.py`."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 0), 1)
        self.assertAlmostEqual(stats.percentile([7.0], 90), 7.0)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 90), 9.1)

    def test_ok_share(self):
        self.assertEqual(stats.ok_share(10, 0), 1.0)
        self.assertEqual(stats.ok_share(4, 1), 0.75)
        with self.assertRaises(ValueError):
            stats.ok_share(0, 0)
        with self.assertRaises(ValueError):
            stats.ok_share(3, 4)

    def test_check_matches(self):
        self.assertTrue(stats.check_matches(None, "rows=3"))
        self.assertTrue(stats.check_matches("rows=3", "rows=3"))
        self.assertFalse(stats.check_matches("rows=3", "rows=4"))
        self.assertFalse(stats.check_matches("rows=3", None))
        self.assertTrue(stats.check_matches("rmse=0.5", "rmse=0.50000001"))
        self.assertFalse(stats.check_matches("rmse=0.5", "rmse=0.51"))
        self.assertFalse(stats.check_matches("rmse=0.5", "rmse=oops"))

    def test_self_times(self):
        ms = 1_000_000
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100 * ms},
            {"id": 2, "parent": 1, "start_ns": 10 * ms, "end_ns": 40 * ms},
            {"id": 3, "parent": 1, "start_ns": 40 * ms, "end_ns": 90 * ms},
            {"id": 4, "parent": 3, "start_ns": 50 * ms, "end_ns": 60 * ms},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 0.020)
        self.assertAlmostEqual(st[2], 0.030)
        self.assertAlmostEqual(st[3], 0.040)
        self.assertAlmostEqual(sum(st.values()), 0.100)
        self.assertEqual(stats.subtree(spans, [3]), {3, 4})


if __name__ == "__main__":
    unittest.main()
