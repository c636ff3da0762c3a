"""Tests of the benchmark's own pieces: seeded inputs and metric math.

    python3 -m unittest perfbench/test_perfbench.py
"""

import filecmp
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import metrics  # noqa: E402


class SeededInputs(unittest.TestCase):

    def generate(self, workload, seed):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        gen.generate(workload, seed, d.name)
        return d.name

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.generate(w, 7), self.generate(w, 7)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                for n in names:
                    if n == "inputs.json":  # holds the directory's own path
                        continue
                    self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                                                shallow=False), n)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.generate(w, 7), self.generate(w, 8)
                parquet = [n for n in os.listdir(a) if n.endswith(".parquet")]
                self.assertTrue(parquet)
                for n in parquet:
                    self.assertFalse(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                                                 shallow=False), n)

    def test_shingles_and_jaccard_follow_the_dedup_definition(self):
        self.assertAlmostEqual(gen.jaccard("a b c d", "a b c d"), 1.0)
        self.assertEqual(gen.shingles("a b"), {"a b"})
        self.assertEqual(gen.jaccard("a b c d e", "a b c d x"), 2 / 4)


class MetricMath(unittest.TestCase):

    def test_median_and_count(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), (2.5, 4))

    def test_iqr_share(self):
        q1, med, q3 = 1.5, 3.0, 4.5  # statistics.quantiles([1..5], n=4)
        self.assertAlmostEqual(metrics.iqr_share([1, 2, 3, 4, 5]), (q3 - q1) / med)

    def test_union_merges_overlaps_and_clips(self):
        jobs = [(0, 10), (5, 15), (20, 30), (29, 31), (40, 50)]
        self.assertEqual(metrics.union_length(jobs), 15 + 11 + 10)
        # Clipped to a call window [8, 45): 7 + 11 + 5.
        self.assertEqual(metrics.union_length(jobs, 8, 45), 23)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 6)], 10, 20), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [
            ("call", "", 0, 100),
            ("profiler.profile", "call", 10, 90),
            ("profiler.pass.A", "profiler.profile", 20, 60),
            ("profiler.pass.B", "profiler.profile", 40, 70),  # overlaps A
            ("cli.render", "call", 90, 95),
        ]
        self.assertEqual(metrics.self_time(spans, "profiler.profile"), 80 - 50)
        self.assertEqual(metrics.self_time(spans, "call"), 100 - 85)
        self.assertEqual(metrics.self_time(spans, "cli.render"), 5)

    def test_driver_gap_is_call_wall_not_covered_by_jobs(self):
        call = {
            "spans": [("call", "", 0, 1_000_000_000)],
            "counters": {"executor_run_ms": 1200},
            "facts": {},
            "jobs": [(1100, 1300), (1200, 1400), (1700, 2100)],
            "start_ms": 1000, "end_ms": 2000,
        }
        m = metrics.layer_metrics(call, cores=4)
        self.assertAlmostEqual(m["spark.job_busy_s"], 0.6)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.4)
        self.assertAlmostEqual(m["spark.slot_util"], 1200 / (600 * 4))

    def test_tracing_overhead_cancels_drift_between_pair_orders(self):
        # Calls speed up by 1 s per call; tracing costs 0.5 s. Pair 0 runs
        # untraced then traced, pair 1 traced then untraced.
        def rec(phase, pair, wall_s):
            return {"phase": phase, "pair": pair, "wall_ns": int(wall_s * 1e9)}
        calls = [rec("first", -1, 20.0),
                 rec("untraced", 0, 10.0), rec("traced", 0, 9.5),
                 rec("traced", 1, 8.5), rec("untraced", 1, 7.0)]
        self.assertAlmostEqual(metrics.tracing_overhead_s(calls), 0.5)

    def test_not_exact_counters_leave_the_exact_list_of_their_workload_only(self):
        self.assertIn("spark.jobs", metrics.exact("validate_suite"))
        self.assertNotIn("spark.jobs", metrics.exact("curate_corpus"))
        self.assertIn("dedup.kept_docs", metrics.exact("curate_corpus"))


if __name__ == "__main__":
    unittest.main()
