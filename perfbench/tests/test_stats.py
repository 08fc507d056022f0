"""Pins the percentile rule and the interval arithmetic of the metrics.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


def ones(values):
    return [(v, 1) for v in values]


class TailPercentile(unittest.TestCase):
    def test_p99_when_enough_samples_lie_beyond(self):
        v, p, n = stats.tail(ones(range(1, 1001)))
        self.assertEqual((v, p, n), (990, 0.99, 1000))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        v, p, n = stats.tail(ones(range(1, 101)))
        self.assertEqual((v, n), (90, 100))
        self.assertAlmostEqual(p, 0.90)
        v, p, n = stats.tail(ones(range(1, 46)))
        self.assertEqual(v, 35)
        self.assertEqual(45 - 35, stats.TAIL_BEYOND)

    def test_too_few_samples_for_a_tail_give_the_maximum(self):
        self.assertEqual(stats.tail(ones([5, 1, 3])), (5, 1.0, 3))
        self.assertEqual(stats.tail(ones(range(1, 13))), (12, 1.0, 12))
        # 20 samples: the highest rank with ten beyond is the median rank
        self.assertEqual(stats.tail(ones(range(1, 21))), (10, 0.5, 20))

    def test_weights_count_as_repeated_samples(self):
        weighted = stats.tail([(1.0, 500), (2.0, 490), (3.0, 10)])
        flat = stats.tail(ones([1.0] * 500 + [2.0] * 490 + [3.0] * 10))
        self.assertEqual(weighted, flat)
        self.assertEqual(weighted[0], 2.0)

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_weighted_median(self):
        self.assertEqual(stats.weighted_median([(1, 3), (10, 1)]), 1)
        self.assertEqual(stats.weighted_median([(1, 1), (10, 3)]), 10)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)], 0, 100), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)], 0, 100), 12)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(-5, 5), (95, 105)], 0, 100), 10)
        self.assertEqual(stats.union_length([(200, 300)], 0, 100), 0)

    def test_driver_gap_is_window_minus_union(self):
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)
        self.assertEqual(stats.driver_gap(0, 100, []), 100)


class Residual(unittest.TestCase):
    def test_relative_difference(self):
        self.assertAlmostEqual(stats.residual(105, 100), 0.05)
        self.assertEqual(stats.residual(1, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
