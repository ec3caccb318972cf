"""Unit tests of the benchmark's statistics.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 3.0)


class Tail(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90, 10))

    def test_percentile_falls_with_fewer_samples(self):
        xs = list(range(1, 41))  # 40 samples: p75 leaves 10 above
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (30, 75, 10))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        value, pct, beyond = stats.tail(xs)
        self.assertGreaterEqual(beyond, 0)
        self.assertLess(beyond, 10)
        self.assertEqual((value, pct), (2.0, 100))

    def test_too_few_samples_returns_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 0))

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(11, 120):
            xs = [float((i * 7919) % 1009) for i in range(n)]  # distinct
            value, pct, beyond = stats.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, sum(1 for x in xs if x > value))


class PairWin(unittest.TestCase):
    base = [10.0, 10.5, 9.8, 10.2, 10.1, 9.9, 10.3, 10.0, 10.4, 9.7]

    def test_clear_win_on_lower_is_better(self):
        cand = [x * 0.8 for x in self.base]
        self.assertEqual(stats.pair_win(self.base, cand, "lower"), "win")
        self.assertEqual(stats.pair_win(self.base, cand, "higher"), "loss")

    def test_nine_of_ten_pairs_needed(self):
        cand = [x * 0.8 for x in self.base]
        cand[0] = self.base[0] * 1.1
        self.assertEqual(stats.pair_win(self.base, cand, "lower"), "win")
        cand[1] = self.base[1] * 1.1
        self.assertEqual(stats.pair_win(self.base, cand, "lower"), "flat")

    def test_ties_count_for_neither_side(self):
        cand = [x * 0.8 for x in self.base]
        cand[0] = self.base[0]
        cand[1] = self.base[1]
        self.assertEqual(stats.pair_win(self.base, cand, "lower"), "flat")

    def test_gap_must_exceed_base_quartile_distance(self):
        cand = [x - 0.01 for x in self.base]  # wins every pair, tiny gap
        self.assertEqual(stats.pair_win(self.base, cand, "lower"), "flat")

    def test_unpaired_lists_raise(self):
        with self.assertRaises(ValueError):
            stats.pair_win([1.0], [1.0, 2.0], "lower")


if __name__ == "__main__":
    unittest.main()
