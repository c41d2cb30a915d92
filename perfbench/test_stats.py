"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
from stats import (beyond, driver_only, percentile, self_time, tail,  # noqa: E402
                   union_length)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 0.5), 50)
        self.assertEqual(percentile(xs, 0.9), 90)
        self.assertEqual(percentile(xs, 1.0), 100)
        self.assertEqual(percentile([7], 0.99), 7)

    def test_samples_beyond(self):
        self.assertEqual(beyond(100, 0.9), 10)
        self.assertEqual(beyond(99, 0.9), 9)
        self.assertEqual(beyond(40, 0.75), 10)

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 has exactly 10 beyond, p95 only 5
        self.assertEqual(tail(list(range(100)))[0], 0.9)
        # 99 samples: p90 has 9 beyond, so the tail falls back to p75
        self.assertEqual(tail(list(range(99)))[0], 0.75)
        self.assertEqual(tail(list(range(1000)))[0], 0.99)
        self.assertEqual(tail(list(range(40)))[0], 0.75)
        self.assertEqual(tail(list(range(39)))[0], 0.5)

    def test_too_few_samples_report_the_median(self):
        q, v = tail([5.0, 1.0, 3.0])
        self.assertEqual((q, v), (0.5, 3.0))

    def test_tail_value_is_that_percentile(self):
        xs = [float(i) for i in range(200)]
        q, v = tail(xs)
        self.assertEqual(q, 0.95)
        self.assertEqual(v, 189.0)


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(3, 3)]), 0)

    def test_self_time_with_overlapping_children(self):
        # children cover [10, 40] and [50, 60] once, even though two of
        # them overlap, and the part of one outside the parent is cut off
        parent = (0, 100)
        kids = [(10, 30), (20, 40), (50, 60), (95, 120)]
        self.assertEqual(self_time(parent, kids), 100 - 30 - 10 - 5)

    def test_self_time_without_children(self):
        self.assertEqual(self_time((5, 8), []), 3)

    def test_driver_only_from_union_of_overlapping_jobs(self):
        # two concurrent jobs [10, 50] and [30, 70], one later [80, 90]
        window = (0, 100)
        jobs = [(10, 50), (30, 70), (80, 90)]
        self.assertEqual(driver_only(window, jobs), 100 - 60 - 10)

    def test_driver_only_clips_jobs_to_the_window(self):
        self.assertEqual(driver_only((10, 20), [(0, 15)]), 5)


class Attribution(unittest.TestCase):
    def raw(self):
        return {
            "workload": "query_mix", "cores": 4,
            "ops": [
                {"kind": "query.graph", "trace": "a", "t0": 0, "t1": 100,
                 "ok": True},
                {"kind": "query.ann", "trace": "b", "t0": 100, "t1": 300,
                 "ok": False}],
            "final_checks": [{"name": "x", "ok": True, "detail": ""}],
            "spans": [
                {"id": 1, "parent": 0, "trace": "a", "name": "query.graph",
                 "t0": 0, "t1": 100},
                {"id": 2, "parent": 1, "trace": "a", "name": "entry.build",
                 "t0": 0, "t1": 20}],
            "jobs": [
                {"id": 0, "t0": 10, "t1": 15, "stages": 1, "tasks": 4,
                 "run_ms": 16, "cpu_ms": 8, "gc_ms": 0, "wait_ms": 1,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                 "input": 100},
                {"id": 1, "t0": 40, "t1": 90, "stages": 2, "tasks": 8,
                 "run_ms": 160, "cpu_ms": 80, "gc_ms": 2, "wait_ms": 3,
                 "shuffle_write": 10, "shuffle_read": 10, "spill": 0,
                 "input": 200},
                {"id": 2, "t0": 150, "t1": 250, "stages": 1, "tasks": 4,
                 "run_ms": 400, "cpu_ms": 200, "gc_ms": 0, "wait_ms": 0,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                 "input": 0}],
            "phases": [], "counters": {}, "samples": {},
            "extra": {"live_rows": 0, "live_once_bytes": 0, "table_bytes": 0}}

    def test_failures_count_ops_and_final_checks(self):
        self.assertEqual(metrics.failures(self.raw()), (3, 1, False))

    def test_jobs_attributed_to_the_op_they_start_in(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(m["operators.graph.jobs"], 2)
        self.assertEqual(m["operators.ann.jobs"], 1)
        self.assertEqual(m["entry.build_jobs"], 1)
        self.assertEqual(m["spark.jobs"], 1.5)
        # op a: 100 - (5 + 50); op b: 200 - 100
        self.assertEqual(m["spark.driver_only_ms"], (45 + 100) / 2)
        self.assertEqual(m["spark.slot_busy_ratio"], 576 / (4 * 300))

    def test_setup_s_is_the_median_of_the_warm_setups(self):
        raw = dict(self.raw(), setup_s=[9.0, 1.0, 3.0, 2.0], heap_mb=[1.0])
        self.assertEqual(metrics.end_to_end(raw)[0]["setup_s"], 2.0)

    def test_every_per_layer_name_is_reported(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(sorted(m), sorted(metrics.per_layer_names()))

    def test_self_times_by_span_name(self):
        st = metrics.self_times(self.raw())
        self.assertEqual(st["query.graph"], 80)
        self.assertEqual(st["entry.build"], 20)


if __name__ == "__main__":
    unittest.main()
