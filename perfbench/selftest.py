#!/usr/bin/env python3
"""Self-test of the benchmark's metric arithmetic and of BENCHMARK.json.

    python3 perfbench/selftest.py

Needs no Spark: it checks the interval union behind ``driver_gap_s``, the
accounting residual, the throughput ratios, the ``error_rate`` base, and
that BENCHMARK.json names every Spark group field and ANN query the traced
run reports.
"""

from __future__ import annotations

import os
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import arith  # noqa: E402
from perfbench.metrics import SPEC  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_empty(self):
        self.assertEqual(arith.interval_union([]), 0.0)

    def test_disjoint_overlapping_nested(self):
        iv = [(0.0, 1.0), (0.5, 2.0), (0.6, 0.7), (3.0, 4.0), (4.0, 4.5)]
        # [0, 2] and [3, 4.5]: touching intervals merge, nested ones add nothing
        self.assertAlmostEqual(arith.interval_union(iv), 3.5)

    def test_order_does_not_matter(self):
        iv = [(5.0, 6.0), (0.0, 2.0), (1.0, 3.0)]
        self.assertAlmostEqual(arith.interval_union(iv), arith.interval_union(sorted(iv)))

    def test_rejects_reversed(self):
        with self.assertRaises(ValueError):
            arith.interval_union([(2.0, 1.0)])


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_busy(self):
        # span [10, 20]; jobs busy 11-13 and 12-15 (union 4 s) and 18-19
        gap = arith.driver_gap(10.0, 20.0, [(11.0, 13.0), (12.0, 15.0), (18.0, 19.0)])
        self.assertAlmostEqual(gap, 5.0)

    def test_jobs_outside_the_span_are_clipped(self):
        self.assertAlmostEqual(arith.driver_gap(10.0, 20.0, [(8.0, 12.0), (19.0, 25.0)]), 7.0)

    def test_no_jobs_means_all_gap(self):
        self.assertAlmostEqual(arith.driver_gap(1.0, 4.0, []), 3.0)


class Accounting(unittest.TestCase):
    # span [0, 5]; one job busy [1, 3] whose two stages cover it
    JOB = [(1.0, 3.0, [(1.0, 2.0), (2.0, 3.0)])]

    def residual(self, jobs, executor_run_s):
        return arith.accounting_residual(0.0, 5.0, jobs, executor_run_s,
                                         slots=4, min_fill=0.5)

    def test_consistent_span_has_no_residual(self):
        # 2 s of stages on 4 slots: 1 to 8 s of executor time fits
        self.assertAlmostEqual(self.residual(self.JOB, 1.0), 0.0)
        self.assertAlmostEqual(self.residual(self.JOB, 8.0), 0.0)

    def test_executor_time_beyond_capacity(self):
        # 10 s of executor time in 2 s of stages on 4 slots: 2 s over, 0.5 s of wall
        self.assertAlmostEqual(self.residual(self.JOB, 10.0), 0.5)

    def test_missing_executor_time(self):
        # the stages ran 2 s but report no executor time: 1 s short of the fill
        self.assertAlmostEqual(self.residual(self.JOB, 0.0), 1.0)

    def test_missing_stage(self):
        # the job's second stage is missing from the totals: 1 s uncovered
        jobs = [(1.0, 3.0, [(1.0, 2.0)])]
        self.assertAlmostEqual(self.residual(jobs, 2.0), 1.0)
        # a job with no stage at all is uncovered and unfilled
        self.assertAlmostEqual(self.residual([(1.0, 3.0, [])], 0.0), 2.0)

    def test_job_time_outside_the_span(self):
        jobs = [(4.0, 6.5, [(4.0, 6.5)])]
        # 1.5 s outside; the 1 s of stages inside is filled by 2.5 s of executor time
        self.assertAlmostEqual(self.residual(jobs, 2.5), 1.5)

    def test_tolerance_fails_a_missing_stage(self):
        from perfbench import tracing

        wall = 5.0
        tol = tracing.ACCOUNTING_TOL_SHARE * wall + tracing.ACCOUNTING_TOL_S
        self.assertLess(self.residual(self.JOB, 2.0), tol)
        self.assertGreater(self.residual([(1.0, 3.0, [(1.0, 2.0)])], 2.0), tol)


class Ratios(unittest.TestCase):
    def test_throughput(self):
        self.assertAlmostEqual(arith.throughput(600, 4.0), 150.0)
        with self.assertRaises(ValueError):
            arith.throughput(1, 0.0)

    def test_error_rate_counts_every_attempt(self):
        self.assertAlmostEqual(arith.error_rate(1, 4), 0.25)
        self.assertEqual(arith.error_rate(0, 1), 0.0)
        with self.assertRaises(ValueError):
            arith.error_rate(0, 0)
        with self.assertRaises(ValueError):
            arith.error_rate(3, 2)

    def test_median(self):
        self.assertEqual(arith.median([3.0, 1.0, 2.0]), 2.0)
        with self.assertRaises(ValueError):
            arith.median([])


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.spec = SPEC

    def test_setup_s_has_the_widest_bound(self):
        e2e = self.spec["end_to_end"]
        setup = [m for m in e2e if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in e2e))

    def test_per_layer_names_match_the_tracer(self):
        from perfbench.extras import ANN_QUERIES
        from perfbench.tracing import SPARK_FIELDS, SPARK_GROUPS

        names = [m["name"] for m in self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for g in SPARK_GROUPS:
            for f in SPARK_FIELDS:
                self.assertIn(f"spark.{g}.{f}", names)
        for q in ANN_QUERIES:
            self.assertIn(f"knn.{q}_s", names)
            self.assertIn(f"knn.{q}_jobs", names)

    def test_workloads_are_registered(self):
        from perfbench import harness

        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(sorted(names), sorted(harness.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
