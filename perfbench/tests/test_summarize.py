"""Tests for the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import summarize  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_reports_sample_count_and_tail(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(summarize.percentile(values, 50), (50, 100, 50))
        self.assertEqual(summarize.percentile(values, 90), (90, 100, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(summarize.percentile([5, 1, 4, 2, 3], 50), (3, 5, 2))

    def test_small_sample_p90_is_the_maximum(self):
        self.assertEqual(summarize.percentile([3.0, 1.0, 2.0], 90), (3.0, 3, 0))

    def test_single_sample(self):
        self.assertEqual(summarize.percentile([7.5], 50), (7.5, 1, 0))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            summarize.percentile([], 50)


class UnionLengthTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(summarize.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested(self):
        self.assertEqual(summarize.union_length([(0, 10), (2, 3)]), 10)

    def test_clipped(self):
        self.assertEqual(summarize.union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)

    def test_empty(self):
        self.assertEqual(summarize.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    # (id, parent, name, op, start, end)
    SPANS = [
        (1, 0, "op.x", 0, 0, 100),
        (2, 1, "jobs.build", 0, 10, 90),
        (3, 2, "ops.csvimport", 0, 20, 40),
        (4, 2, "core.write", 0, 30, 70),  # overlaps its sibling
        (5, 1, "jobs.urd.add", 0, 95, 99),
    ]

    def test_self_time_subtracts_the_union_of_children(self):
        st = summarize.self_times(self.SPANS)
        self.assertEqual(st[1], 100 - 80 - 4)
        self.assertEqual(st[2], 80 - 50)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 40)
        self.assertEqual(st[5], 4)


class PerLayerTest(unittest.TestCase):
    def result(self):
        engine = [0] * len(summarize.ENGINE_FIELDS)
        engine[0] = 2  # jobs
        engine[3] = 1500  # run_ms
        return {
            "timed_s": 1.0, "cpus": 2, "driver_gc_s": 0.01, "trace_overhead_s": 0.02,
            "timed_start_ms": 1000, "timed_end_ms": 2000,
            "job_intervals_ms": [[1100, 1400], [1300, 1500], [900, 1050]],
            "samples": [[0, "daily_run", 900.0, ""], [1, "daily_run", 50.0, "boom"]],
            "spans": [[1, 0, "op.daily_run", 0, 0, 900000],
                      [2, 1, "jobs.build", 0, 0, 800000],
                      [3, 2, "core.write", 0, 100000, 600000],
                      [4, 0, "core.write", -1, 0, 10]],  # set-up: not counted
            "counters": [[2, "linked", 0.0], [3, "files", 4.0]],
            "engine": {"3": engine},
        }

    def test_layer_metrics(self):
        m = summarize.per_layer(self.result())
        self.assertEqual(m["core.write.calls"][0], 1)
        self.assertAlmostEqual(m["core.write.s"][0], 0.5)
        self.assertEqual(m["core.write.spark_jobs"][0], 2)
        self.assertEqual(m["core.write.files"][0], 4.0)
        self.assertAlmostEqual(m["jobs.build.self_s"][0], 0.3)
        self.assertEqual(m["jobs.link_ratio"][0], 0.0)
        # jobs ran 1050-1500 (0.45 s) of the 1 s timed phase
        self.assertAlmostEqual(m["spark.no_job_s"][0], 0.55)
        self.assertAlmostEqual(m["spark.core_utilization"][0], 1.5 / 2)

    def test_overhead_is_tracer_time_over_the_timed_wall(self):
        m = summarize.per_layer(self.result())
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.02)
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], 0.02)


if __name__ == "__main__":
    unittest.main()
