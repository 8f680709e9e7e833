"""Tests of the benchmark's arithmetic. Run: python3 -m unittest discover -s graftbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_twenty_samples_give_p50(self):
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10, 10))

    def test_thirty_two_samples_give_the_22nd(self):
        p, v, beyond = stats.tail(list(range(1, 33)))
        self.assertAlmostEqual(p, 68.75)
        self.assertEqual((v, beyond), (22, 10))

    def test_thousand_samples_give_p99(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990, 10))

    def test_exactly_ten_beyond_the_reported_value(self):
        values = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 12, 11, 15, 14, 13]
        p, v, beyond = stats.tail(values)
        self.assertEqual(sum(x > v for x in values), beyond)
        self.assertEqual(beyond, 10)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (100.0, 3, 0))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(20, 0, -1))), (50.0, 10, 10))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(stats.self_time(0, 10, [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_parent(self):
        self.assertAlmostEqual(stats.self_time(0, 10, [(-5, 2), (9, 15)]), 7)

    def test_nested_and_disjoint_children(self):
        self.assertAlmostEqual(stats.self_time(0, 10, [(1, 8), (2, 3), (9, 9.5)]), 2.5)

    def test_children_outside_the_parent_do_not_count(self):
        self.assertAlmostEqual(stats.self_time(0, 10, [(11, 12), (-3, -1)]), 10)

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time(2, 5, []), 3)


class Ratios(unittest.TestCase):
    def test_busy_ratio(self):
        # 6 s of task time in 2 s of op wall on 4 cores
        self.assertAlmostEqual(stats.busy_ratio(6.0, 2.0, 4), 0.75)

    def test_overhead_ratio_pairs_ops_by_label(self):
        ops = [("q1", True, 2.2), ("q1", False, 2.0), ("q1", True, 2.2),
               ("q2", True, 0.55), ("q2", False, 0.5),
               ("q3", True, 9.0)]  # never untraced: left out
        self.assertAlmostEqual(stats.overhead_ratio(ops), 1.1)

    def test_overhead_ratio_uses_medians(self):
        ops = [("b", True, 1.0), ("b", True, 1.2), ("b", True, 50.0),
               ("b", False, 1.0), ("b", False, 1.0), ("b", False, 0.1)]
        self.assertAlmostEqual(stats.overhead_ratio(ops), 1.2)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)


if __name__ == "__main__":
    unittest.main()
