"""Unit tests for perfbench/stats.py: python3 -m unittest discover -s perfbench"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))

    def test_picks_highest_percentile_with_ten_beyond(self):
        # 100 samples: p99 and p95 leave 1 and 5 above; p90 leaves exactly 10
        pct, value, n = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))

    def test_large_sample_reaches_p99(self):
        pct, value, n = stats.tail([float(i) for i in range(1, 2001)])
        self.assertEqual((pct, value, n), (99.0, 1980.0, 2000))

    def test_ties_do_not_count_as_beyond(self):
        # 40 equal values: nothing is strictly above any percentile
        self.assertIsNone(stats.tail([5.0] * 40))

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


if __name__ == "__main__":
    unittest.main()
