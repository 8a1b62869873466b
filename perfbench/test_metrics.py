"""Tests for the benchmark's own logic. Run: python3 -m unittest discover perfbench"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleven_samples(self):
        self.assertEqual(metrics.tail(list(range(11))), (100.0 / 11, 0, 11))

    def test_fewer_samples_take_the_largest(self):
        self.assertEqual(metrics.tail([3, 9, 1]), (100.0, 9, 3))

    def test_ten_samples_beyond(self):
        values = list(range(100))
        random.Random(3).shuffle(values)
        pct, v, n = metrics.tail(values)
        self.assertEqual((pct, v, n), (90.0, 89, 100))
        self.assertEqual(sum(x > v for x in values), 10)


class PassRateTest(unittest.TestCase):
    def test_median_of_pass_rates_counts_only_successes(self):
        records = [{"t": "pass", "win": "main", "pass": p, "t0": 0.0, "t1": ms}
                   for p, ms in enumerate((1000.0, 2000.0, 4000.0))]
        records += [{"t": "op", "win": "main", "pass": p, "ok": ok}
                    for p in range(3) for ok in (True, True, True, False)]
        # 3 successes in 1 s, 2 s and 4 s: rates 3, 1.5 and 0.75 per second
        self.assertEqual(metrics.pass_rate(records, "main"), 1.5)

    def test_other_windows_ignored(self):
        records = [{"t": "pass", "win": "main", "pass": 0, "t0": 0.0, "t1": 500.0},
                   {"t": "pass", "win": "warm", "pass": 0, "t0": 0.0, "t1": 9000.0},
                   {"t": "op", "win": "main", "pass": 0, "ok": True},
                   {"t": "op", "win": "warm", "pass": 0, "ok": True}]
        self.assertEqual(metrics.pass_rate(records, "main"), 2.0)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(0, 4), (6, 20)], lo=2, hi=10), 6)
        self.assertEqual(metrics.union_length([(0, 1)], lo=2, hi=10), 0)

    def test_idle_is_window_minus_busy(self):
        # An action from t=0 to t=10 whose tasks ran in [1,4] and [3,6] on
        # two slots was idle for 10 - 5 = 5.
        busy = [(1, 4), (3, 6)]
        self.assertEqual(10 - metrics.union_length(busy, 0, 10), 5)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = {
            "query": (None, 0, 10),
            "build": ("query", 0, 2),
            "action": ("query", 2, 10),
            "job1": ("action", 3, 6),
            "job2": ("action", 5, 8),
        }
        s = metrics.self_times(spans)
        self.assertEqual(s["query"], 0)
        self.assertEqual(s["build"], 2)
        self.assertEqual(s["action"], 3)
        self.assertEqual(s["job1"], 3)

    def test_child_outside_parent_is_clipped(self):
        s = metrics.self_times({"p": (None, 0, 4), "c": ("p", 3, 9)})
        self.assertEqual(s["p"], 3)


class ConfDiffTest(unittest.TestCase):
    def test_changed_added_removed(self):
        before = {"a": "1", "b": "2", "c": "3"}
        after = {"a": "1", "b": "20", "d": "4"}
        self.assertEqual(metrics.conf_diff(before, after), ["b", "c", "d"])

    def test_unchanged(self):
        self.assertEqual(metrics.conf_diff({"a": "1"}, {"a": "1"}), [])


if __name__ == "__main__":
    unittest.main()
