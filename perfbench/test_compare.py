"""Tests of the compare-mode verdicts: python3 perfbench/test_compare.py"""
import unittest

from compare import verdict


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_gain_needs_nine_tenths_of_pairs_and_a_shift_beyond_the_spread(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(verdict(self.parent, change, "lower", 0.1)[-1], "gain")
        mixed = change[:8] + [11.0, 11.0]
        self.assertNotEqual(verdict(self.parent, mixed, "lower", 0.1)[-1], "gain")

    def test_regression_is_a_median_worse_by_more_than_the_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(verdict(self.parent, change, "lower", 0.1)[-1], "regression")
        self.assertEqual(verdict(self.parent, change, "lower", 0.25)[-1], "same")
        self.assertEqual(verdict(self.parent, change, "higher", 0.1)[-1], "gain")

    def test_a_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
        self.assertEqual(verdict(noisy, noisy[::-1], "lower", 0.1)[-1], "unresolved")

    def test_win_fraction_ignores_ties(self):
        _, _, win, loss, _ = verdict([1.0, 2.0, 3.0], [1.0, 1.0, 4.0], "lower", 0.25)
        self.assertAlmostEqual(win, 1 / 3)
        self.assertAlmostEqual(loss, 1 / 3)


if __name__ == "__main__":
    unittest.main()
