"""The compare tool's verdicts (choosing-metrics sections 6 to 8)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402


def runs(values):
    return dict(enumerate(values))


BASE = runs([100, 101, 99, 100, 102, 98, 100, 101, 99, 100])


class VerdictTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        new = runs([v - 10 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, new, "lower", 0.1),
                         (10, 10, "improved"))

    def test_small_shift_is_within_bound(self):
        new = runs([v + 1 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, new, "lower", 0.1)[2],
                         "within bound")

    def test_shift_past_bound_is_regressed(self):
        new = runs([v + 20 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, new, "lower", 0.1)[2],
                         "regressed")
        self.assertEqual(compare.verdict(BASE, new, "higher", 0.1)[2],
                         "improved")

    def test_wide_spread_is_unresolved(self):
        noisy = runs([60, 140, 80, 120, 100, 70, 130, 90, 110, 100])
        new = runs([v + 1 for v in noisy.values()])
        self.assertEqual(compare.verdict(noisy, new, "lower", 0.1)[2],
                         "unresolved")

    def test_spread_is_quartile_distance_over_median(self):
        # exclusive quartiles, as statistics.quantiles(n=4): 1.5 and 4.5
        self.assertAlmostEqual(compare.spread([1, 2, 3, 4, 5]), 1.0)


if __name__ == "__main__":
    unittest.main()
