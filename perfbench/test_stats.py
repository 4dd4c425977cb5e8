"""Tests for stats.py:  python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import statistics
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_count_is_middle_sample(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)

    def test_even_count_is_mean_of_middle_pair(self):
        # the worst of two draws is not the median
        self.assertEqual(stats.median([160.0, 387.0]), 273.5)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class QuartilesTest(unittest.TestCase):
    def test_match_statistics_quantiles(self):
        xs = [3.1, 2.7, 9.0, 4.4, 5.0, 3.3, 2.2, 8.8, 6.1, 4.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))


class TailTest(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.highest_tail(100), 90.0)
        self.assertEqual(stats.highest_tail(99), 75.0)

    def test_smaller_counts_fall_back(self):
        self.assertEqual(stats.highest_tail(1000), 99.0)
        self.assertEqual(stats.highest_tail(10000), 99.9)
        self.assertEqual(stats.highest_tail(40), 75.0)
        self.assertEqual(stats.highest_tail(20), 50.0)
        self.assertIsNone(stats.highest_tail(19))

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(xs), (90.0, 90))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertIsNone(stats.tail([1.0] * 5))


if __name__ == "__main__":
    unittest.main()
