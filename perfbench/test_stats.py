"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(values, 0.5), 5)
        self.assertEqual(stats.percentile(values, 0.9), 9)
        self.assertEqual(stats.percentile(values, 0.91), 10)
        self.assertEqual(stats.percentile(values, 1.0), 10)

    def test_is_always_a_sample(self):
        values = [0.3, 0.1, 0.2, 0.4]
        self.assertEqual(stats.percentile(values, 0.5), 0.2)
        self.assertIn(stats.percentile(values, 0.9), values)

    def test_one_sample(self):
        self.assertEqual(stats.percentile([7.0], 0.01), 7.0)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part(self):
        # children overlap each other and stick out of the span
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (11, 14), (18, 30)]), 4)

    def test_no_children_is_whole_span(self):
        self.assertEqual(stats.self_time((1.5, 4.0), []), 2.5)

    def test_children_outside_are_ignored(self):
        self.assertEqual(stats.self_time((0, 10), [(10, 12), (-3, 0)]), 10)


class OccupancyTest(unittest.TestCase):
    def test_share_of_slots(self):
        # 4 cores busy-window 10: 40 slot-units, 12 used
        self.assertAlmostEqual(stats.occupancy(12, 4, 10), 0.3)

    def test_full_and_idle(self):
        self.assertEqual(stats.occupancy(40, 4, 10), 1.0)
        self.assertEqual(stats.occupancy(5, 4, 0), 0.0)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [10, 11, 9, 12, 10, 10, 13, 8, 10, 11]
        q1, _, q3 = statistics.quantiles(values, n=4)
        s = stats.spread(values)
        self.assertEqual((s["q1"], s["q3"]), (q1, q3))
        self.assertAlmostEqual(s["spread"], (q3 - q1) / statistics.median(values))


class OverheadTest(unittest.TestCase):
    @staticmethod
    def op(name, rnd, secs):
        return {"name": name, "round": rnd, "t0": 0.0, "t1": secs * 1e3}

    def test_traced_round_against_both_neighbours(self):
        # ops speed up by 0.1 s a round; the traced round 1 costs 0.2 s
        # more than the mean of rounds 0 and 2
        warm = [self.op("a", 0, 1.2), self.op("b", 0, 2.0),
                self.op("a", 1, 1.3), self.op("b", 1, 2.0),
                self.op("a", 2, 1.0), self.op("b", 2, 1.6)]
        self.assertAlmostEqual(run.overhead(warm), 3.3 / 2.9 - 1)

    def test_linear_speed_up_reads_as_no_overhead(self):
        warm = [self.op("a", r, 2.0 - 0.1 * r) for r in range(5)]
        self.assertAlmostEqual(run.overhead(warm), 0.0)

    def test_median_over_traced_rounds_and_common_names(self):
        warm = [self.op("a", 0, 1.0), self.op("a", 1, 1.1), self.op("a", 2, 1.0),
                self.op("b", 2, 9.0), self.op("a", 3, 1.3), self.op("a", 4, 1.0),
                self.op("a", 5, 1.2), self.op("a", 6, 1.0)]
        self.assertAlmostEqual(run.overhead(warm), 0.2)

    def test_unbracketed_traced_round_is_not_used(self):
        self.assertEqual(run.overhead([self.op("a", 0, 1.0), self.op("a", 1, 2.0)]), 0.0)


if __name__ == "__main__":
    unittest.main()
