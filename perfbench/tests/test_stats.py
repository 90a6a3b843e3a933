"""Tests of the benchmark's own arithmetic on synthetic inputs.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile([7], 95), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_weighted_matches_expanded(self):
        pairs = [(10, 3), (20, 1), (5, 6), (40, 0)]
        expanded = [v for v, n in pairs for _ in range(n)]
        for p in (1, 25, 50, 60, 61, 90, 95, 100):
            self.assertEqual(stats.weighted_percentile(pairs, p),
                             stats.percentile(expanded, p), p)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_raises(self):
        for f in (lambda: stats.percentile([], 50), lambda: stats.median([]),
                  lambda: stats.weighted_percentile([(1, 0)], 50)):
            self.assertRaises(ValueError, f)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return dict(id=id_, parent=parent, start=start, end=end)

    def test_leaf_and_parent(self):
        spans = [self.span("w", None, 0, 100), self.span("a", "w", 10, 30),
                 self.span("b", "w", 50, 60)]
        st = stats.self_times(spans)
        self.assertEqual(st, {"w": 70, "a": 20, "b": 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span("w", None, 0, 100), self.span("a", "w", 10, 50),
                 self.span("b", "w", 40, 70), self.span("c", "w", 45, 55)]
        self.assertEqual(stats.self_times(spans)["w"], 40)

    def test_children_clipped_to_parent(self):
        spans = [self.span("w", None, 0, 100), self.span("a", "w", -20, 10),
                 self.span("b", "w", 90, 150)]
        self.assertEqual(stats.self_times(spans)["w"], 80)

    def test_nested_levels(self):
        spans = [self.span("t", None, 0, 100), self.span("ph", "t", 0, 80),
                 self.span("sink", "ph", 10, 70), self.span("job", "sink", 20, 60)]
        self.assertEqual(stats.self_times(spans),
                         {"t": 20, "ph": 20, "sink": 20, "job": 40})

    def test_self_times_sum_to_root(self):
        spans = [self.span("r", None, 0, 1000), self.span("x", "r", 100, 400),
                 self.span("y", "x", 150, 300), self.span("z", "r", 500, 900)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)


class LatencyJoin(unittest.TestCase):
    def test_rows_join_their_epoch_commit(self):
        rows = [(0, 1000, 5), (0, 1250, 2), (1, 1500, 4)]
        commit = {0: 5000, 1: 6000}
        due = lambda ts: ts + 2000  # noqa: E731
        got = stats.emit_latencies(rows, commit, due)
        self.assertEqual(sorted(got), sorted([(2000, 5), (1750, 2), (2500, 4)]))
        self.assertEqual(stats.weighted_percentile(got, 50), 2000)
        self.assertEqual(stats.weighted_percentile(got, 95), 2500)

    def test_rows_outside_window_left_out(self):
        rows = [(0, 1, 3), (0, 2, 3)]
        got = stats.emit_latencies(rows, {0: 10}, lambda ts: None if ts == 1 else ts)
        self.assertEqual(got, [(8, 3)])

    def test_row_without_commit_is_an_error(self):
        self.assertRaises(ValueError, stats.emit_latencies, [(3, 0, 1)], {0: 1},
                          lambda ts: ts)


class Failures(unittest.TestCase):
    def check(self, expected, missing=0, duplicate=0, unexpected=0, wrong=0):
        return dict(expected=expected, missing=missing, duplicate=duplicate,
                    unexpected=unexpected, wrong=wrong)

    def test_clean(self):
        self.assertEqual(stats.count_failures([self.check(100), self.check(100)]), (200, 0))

    def test_every_kind_counts(self):
        checks = [self.check(100, missing=2, duplicate=1), self.check(100, unexpected=3, wrong=4)]
        self.assertEqual(stats.count_failures(checks, dropped_by_watermark=5, over_limit=6),
                         (200, 21))

    def test_failed_run_counts_once(self):
        self.assertEqual(stats.count_failures([self.check(100)], failed_runs=2), (100, 2))

    def test_attempted_never_below_failed_or_one(self):
        self.assertEqual(stats.count_failures([]), (1, 0))
        self.assertEqual(stats.count_failures([self.check(2, unexpected=5)]), (5, 5))


class Timestamps(unittest.TestCase):
    def test_progress_timestamp(self):
        self.assertEqual(stats.parse_ts_ms("1970-01-01T00:00:01.250Z"), 1250)


if __name__ == "__main__":
    unittest.main()
