"""Tests of the benchmark's own arithmetic: python3 -m unittest perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class Percentiles(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 35))            # 34 samples: p70 is rank 24, 10 beyond
        self.assertEqual(stats.percentile(xs, 0.7), 24)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:33], 0.7)   # 33 samples: rank 24, only 9 beyond
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_median_is_not_a_tail(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_empty_sample_is_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_end_to_end_refuses_a_thin_tail(self):
        raw = {"samples": {"latency_ms": [1.0] * 30, "throughput_per_s": [1.0],
                           "setup_s": [1.0]},
               "counters": {"peak_rss_mb": 1.0, "store_mb": 1.0}}
        with self.assertRaises(ValueError):
            stats.end_to_end(raw)


class Failures(unittest.TestCase):

    def test_thrown_attempts_count_once_each(self):
        attempts = {"a": 3, "b": 3}
        failures = [{"op": "a", "why": "boom"}, {"op": "a", "why": "boom"}]
        self.assertEqual(stats.failed_count(attempts, failures, {}), 2)

    def test_wrong_output_fails_every_attempt_of_the_key(self):
        attempts = {"a": 3, "b": 3}
        self.assertEqual(stats.failed_count(attempts, [], {"b": "rows 1 != 2"}), 3)

    def test_failures_never_exceed_attempts(self):
        attempts = {"a": 2}
        failures = [{"op": "a", "why": "x"}] * 5
        self.assertEqual(stats.failed_count(attempts, failures, {"a": "wrong"}), 2)

    def test_set_up_failures_are_not_attempts(self):
        failures = [{"op": "warmup:a", "why": "x"}]
        self.assertEqual(stats.failed_count({"a": 4}, failures, {}), 0)


class OpenLoop(unittest.TestCase):

    def test_latency_runs_from_due_time(self):
        # a batch due at 100 ms, sent late at 900 ms after a stall and shown
        # at 1000 ms waited 900 ms, not the 100 ms since it was sent
        self.assertEqual(stats.freshness_ms(due_ms=100, shown_ms=1000), 900)

    def test_stall_shows_as_freshness_and_lateness_not_lower_rate(self):
        period, n, stall_until = 100, 20, 1500
        due = [i * period for i in range(n)]
        sent = [max(d, stall_until) for d in due]       # generator blocked
        shown = [s + 50 for s in sent]
        fresh = [stats.freshness_ms(d, s) for d, s in zip(due, shown)]
        late = [s - d for d, s in zip(due, sent)]
        self.assertEqual(stats.latencies({"due_ms": due, "shown_ms": shown}), fresh)
        self.assertEqual(len(fresh), n)                 # offered count unchanged
        self.assertEqual(fresh[0], 1550)                # the stall is in freshness
        self.assertEqual(max(late), 1500)               # and in generator lateness
        self.assertEqual(fresh[-1], 50)


class SelfTime(unittest.TestCase):

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], lo=2, hi=12), 10)

    def test_self_time_subtracts_children_and_jobs(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "request", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "layer": "entry.build", "start": 0, "end": 40},
            {"id": 3, "parent": 1, "layer": "exec.action", "start": 40, "end": 100},
        ]
        jobs = [
            {"span": 2, "start": 10, "end": 30, "loader": True},
            {"span": 3, "start": 50, "end": 90, "loader": False},
            {"span": 3, "start": 60, "end": 95, "loader": False},  # concurrent
        ]
        st = stats.self_times(spans, jobs)
        self.assertEqual(st["request"], 0)
        self.assertEqual(st["entry.build"], 20)
        self.assertEqual(st["exec.action"], 15)
        self.assertEqual(st["tables.jobs"], 20)
        self.assertEqual(st["spark.jobs"], 45)


if __name__ == "__main__":
    unittest.main()
