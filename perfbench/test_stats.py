"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        samples = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(samples)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_smallest_sample_count(self):
        value, pct, n = stats.tail([5.0] + [1.0] * 10)
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_unordered_input(self):
        samples = [0.3, 0.1, 0.9, 0.5, 0.2, 0.8, 0.7, 0.4, 0.6, 1.0, 1.1, 1.2]
        value, pct, _ = stats.tail(samples)
        self.assertEqual(value, 0.2)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_s": start, "end_s": end}


class SelfTimeTest(unittest.TestCase):
    def test_sequential_children(self):
        s = stats.self_times([span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 5, 6)])
        self.assertAlmostEqual(s[1], 7.0)
        self.assertAlmostEqual(s[2], 2.0)

    def test_overlapping_par_children_count_once(self):
        # three Par threads: [1,5], [2,4] and [3,8] cover [1,8] together
        s = stats.self_times([span(1, 0, 0, 10), span(2, 1, 1, 5), span(3, 1, 2, 4),
                              span(4, 1, 3, 8)])
        self.assertAlmostEqual(s[1], 3.0)

    def test_child_outliving_parent_is_clipped(self):
        s = stats.self_times([span(1, 0, 0, 4), span(2, 1, 3, 9)])
        self.assertAlmostEqual(s[1], 3.0)

    def test_grandchildren_charge_only_their_parent(self):
        s = stats.self_times([span(1, 0, 0, 10), span(2, 1, 0, 6), span(3, 2, 1, 5)])
        self.assertAlmostEqual(s[1], 4.0)
        self.assertAlmostEqual(s[2], 2.0)
        self.assertAlmostEqual(s[3], 4.0)


class FailedOpsTest(unittest.TestCase):
    def test_thrown_plus_wrong(self):
        self.assertEqual(stats.failed_ops(41, 0, 0), 0)
        self.assertEqual(stats.failed_ops(41, 1, 2), 3)

    def test_capped_at_attempted(self):
        # one wrong write left every published table wrong
        self.assertEqual(stats.failed_ops(2, 1, 9), 2)


class FailureRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failure_ratio(40, 0), 0.0)
        self.assertAlmostEqual(stats.failure_ratio(40, 3), 0.075)
        self.assertEqual(stats.failure_ratio(5, 5), 1.0)

    def test_rejects_impossible_counts(self):
        for attempted, failed in [(0, 0), (3, 4), (3, -1)]:
            with self.assertRaises(ValueError):
                stats.failure_ratio(attempted, failed)


class WaveIdleTest(unittest.TestCase):
    def test_slots_wait_for_slowest_sibling(self):
        idle = stats.wave_idle([(0, 0, 2), (0, 0, 5), (1, 5, 6), (1, 5, 9)])
        self.assertAlmostEqual(idle, 3 + 3)


if __name__ == "__main__":
    unittest.main()
