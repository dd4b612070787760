"""Unit tests of the benchmark's percentile helpers.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import lower_median_index, median, tail  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_exactly_ten_samples_beyond_when_there_are_enough(self):
        for n in (11, 36, 100, 101, 322, 1000, 5000):
            values = random.Random(n).sample(range(10 * n), n)
            t = tail(values)
            self.assertEqual(sum(v > t for v in values), 10, n)

    def test_is_the_highest_such_percentile(self):
        values = list(range(322))
        t = tail(values)
        self.assertEqual(t, 311)  # p96.9: 10 samples above, 311 below
        self.assertLess(sum(v > t + 1 for v in values), 10)

    def test_ten_or_fewer_samples_give_the_smallest(self):
        self.assertEqual(tail(list(range(10))), 0)
        self.assertEqual(tail([7.0]), 7.0)
        self.assertEqual(tail([]), 0.0)

    def test_order_does_not_matter(self):
        values = [random.Random(1).random() for _ in range(200)]
        self.assertEqual(tail(values), tail(sorted(values, reverse=True)))


class MedianTest(unittest.TestCase):
    def test_median_and_representative_index(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([]), 0.0)
        self.assertEqual([lower_median_index(n) for n in (1, 2, 3, 4)], [0, 0, 1, 1])


if __name__ == "__main__":
    unittest.main()
