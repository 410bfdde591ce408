import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import stats  # noqa: E402


class PTailTest(unittest.TestCase):
    def test_too_few_samples_is_the_fastest(self):
        self.assertEqual(stats.p_tail([3, 1, 2]), (0, 1, 3))
        self.assertEqual(stats.p_tail([]), (0, 0.0, 0))

    def test_eleven_samples(self):
        # nearest rank: p9 of 11 is rank 1; 10 samples lie beyond it
        self.assertEqual(stats.p_tail(list(range(11))), (9, 0, 11))

    def test_twenty_samples_is_the_median(self):
        self.assertEqual(stats.p_tail(list(range(1, 21))), (50, 10, 20))

    def test_hundred_samples_is_p90(self):
        p, v, n = stats.p_tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for s in range(1, 101) if s > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(stats.p_tail(xs), stats.p_tail(sorted(xs)))


if __name__ == "__main__":
    unittest.main()
