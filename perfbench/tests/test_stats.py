import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stats import MIN_BEYOND, median, percentile, ratio, spread  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            median([])

    def test_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # p90 has exactly 10 samples beyond it
        self.assertEqual(percentile(xs, 90), 90)
        with self.assertRaises(ValueError):
            percentile(xs[:99], 90)  # 9 beyond
        with self.assertRaises(ValueError):
            percentile(list(range(50)), 90)
        self.assertEqual(percentile(list(range(1, 21)), 50), 10)  # 10 beyond

    def test_percentile_rejects_out_of_range(self):
        for p in (0, 100, 120):
            with self.assertRaises(ValueError):
                percentile(list(range(1000)), p)

    def test_min_beyond_is_ten(self):
        self.assertEqual(MIN_BEYOND, 10)

    def test_ratio_carries_its_base(self):
        self.assertEqual(ratio(3, 12), {"value": 0.25, "part": 3, "base": 12})
        self.assertEqual(ratio(0, 5)["value"], 0)
        with self.assertRaises(ValueError):
            ratio(1, 0)

    def test_spread_is_iqr_over_median(self):
        xs = [10, 11, 9, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(spread(xs), (q[2] - q[0]) / statistics.median(xs))
        self.assertEqual(spread([5.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
