"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))  # 100 samples: p90 is 90, ten lie above it
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertIsNone(metrics.percentile(xs[:99], 90))  # only nine above

    def test_median_is_reportable_from_twenty_samples(self):
        self.assertEqual(metrics.percentile(list(range(20)), 50), 9)
        self.assertIsNone(metrics.percentile(list(range(19)), 50))
        self.assertIsNone(metrics.percentile([], 50))


class StealTest(unittest.TestCase):
    def test_steal_share_of_all_ticks(self):
        a = "cpu  100 0 50 800 10 0 5 35 0 0"
        b = "cpu  200 0 60 1500 10 0 5 60 0 0"  # 835 ticks, 25 of them steal
        self.assertAlmostEqual(metrics.steal_permille(a, b), 1000 * 25 / 835)

    def test_no_elapsed_ticks_reads_zero(self):
        a = "cpu  1 2 3 4 5 6 7 8 0 0"
        self.assertEqual(metrics.steal_permille(a, a), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_is_counted_once(self):
        spans = [
            {"id": "p", "parent": None, "start": 0.0, "end": 100.0},
            {"id": "a", "parent": "p", "start": 10.0, "end": 40.0},
            {"id": "b", "parent": "p", "start": 30.0, "end": 50.0},
            {"id": "c", "parent": "p", "start": 90.0, "end": 120.0},  # clipped
            {"id": "g", "parent": "a", "start": 15.0, "end": 20.0},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["p"], 100 - 40 - 10)
        self.assertAlmostEqual(st["a"], 30 - 5)
        self.assertAlmostEqual(st["b"], 20)


class LapAttributionTest(unittest.TestCase):
    def test_jobs_land_in_the_lap_that_holds_their_start(self):
        windows = metrics.lap_windows(1000.0, [("extract_dedup", 1.0), ("link_cc", 0.5),
                                               ("merge_build", 2.0)])
        self.assertEqual(windows[1], ("link_cc", 2000.0, 2500.0))
        jobs = [{"job": 1, "start": 1000.0}, {"job": 2, "start": 1999.9},
                {"job": 3, "start": 2000.0}, {"job": 4, "start": 4499.0},
                {"job": 5, "start": 4500.0}, {"job": 6, "start": 999.0}]
        self.assertEqual(metrics.attribute_jobs(jobs, windows), {1: 0, 2: 0, 3: 1, 4: 2})

    def test_window_metrics_follow_the_jobs_stages(self):
        windows = [("a", 0.0, 1000.0), ("b", 1000.0, 2000.0), ("a", 2000.0, 3000.0)]
        jobs = [{"job": 1, "start": 10.0, "stages": [1, 2]},
                {"job": 2, "start": 1500.0, "stages": [3]},
                {"job": 3, "start": 2500.0, "stages": [2, 4]}]  # stage 2 is job 1's
        task = {"ok": True, "cpu_ns": 1e9, "gc_ms": 0, "sr": 0, "sw": 1048576,
                "spill": 0, "peak": 2097152}
        tasks = [dict(task, stage=1, start=100.0, end=600.0),
                 dict(task, stage=2, start=1200.0, end=1300.0),
                 dict(task, stage=3, start=1500.0, end=1700.0),
                 dict(task, stage=4, start=2600.0, end=2700.0, ok=False)]
        m = metrics.window_metrics(windows, jobs, tasks)
        self.assertEqual(m["a"]["jobs"], 2)
        self.assertEqual(m["a"]["tasks"], 3)
        self.assertEqual(m["a"]["failed_tasks"], 1)
        self.assertAlmostEqual(m["a"]["wall_s"], 2.0)
        self.assertAlmostEqual(m["a"]["cpu_util"], 3.0 / (2.0 * metrics.CORES))
        self.assertAlmostEqual(m["a"]["driver_idle_s"], (1000 - 500 + 1000 - 100) / 1000)
        self.assertEqual(m["b"]["tasks"], 1)
        self.assertAlmostEqual(m["b"]["shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["b"]["peak_exec_mem_mb"], 2.0)


class ChecksTest(unittest.TestCase):
    def test_row_counts_are_checked_against_the_committed_counts(self):
        records = [
            {"ev": "check", "name": "x", "ok": True, "detail": ""},
            {"ev": "count", "iter": 0, "name": "rows.q1", "value": 5.0},
            {"ev": "count", "iter": 0, "name": "rows.q2", "value": 6.0},
            {"ev": "count", "iter": 0, "name": "rows.q3", "value": 1.0},
        ]
        attempted, failed, failures = metrics.checks(records, {"q1": 5, "q2": 7})
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual([n for n, _ in failures], ["rows.q2", "rows.q3"])


class ManifestTimeTest(unittest.TestCase):
    def test_iso_instant_with_nanoseconds(self):
        self.assertAlmostEqual(metrics.iso_ms("1970-01-01T00:00:01.250000000Z"), 1250.0)

    def test_checkpoint_windows_end_at_the_manifest_time(self):
        manifest = {"wallSec": 0.5, "ts": "1970-01-01T00:00:02Z"}
        records = [{"ev": "stage", "iter": 0, "name": "07_edges",
                    "manifest": json.dumps(manifest), "bytes": 1}]
        self.assertEqual(metrics.build_windows(records, {"iter": 0}),
                         [("merge_build", 1500.0, 2000.0)])


class EndToEndTest(unittest.TestCase):
    def test_pass_and_op_mix_leave_out_construction_and_warmups(self):
        records = [
            {"ev": "setup", "s": 2.0},
            {"ev": "warmup", "s": 1.5},
            {"ev": "call", "iter": -1, "name": "query.pagerank", "ms": 900.0, "op": True},
            {"ev": "call", "iter": 0, "name": "pipeline.CheckpointedPipeline.run",
             "ms": 30000.0, "op": False},
            {"ev": "build", "iter": 0, "s": 30.0, "triples": 600},
            {"ev": "call", "iter": 0, "name": "query.pagerank", "ms": 100.0, "op": True},
            {"ev": "call", "iter": 0, "name": "query.traverse", "ms": 400.0, "op": True},
            {"ev": "pass", "iter": -1, "s": 9.0},
            {"ev": "pass", "iter": 0, "s": 0.6},
            {"ev": "iter", "iter": 0, "s": 31.0},
            {"ev": "mem", "peak_mb": 512.0, "gcs": 7},
        ]
        m = metrics.end_to_end(records)
        self.assertAlmostEqual(m["setup_s"], 3.5)
        self.assertAlmostEqual(m["pass_s"], 0.6)
        self.assertAlmostEqual(m["iteration_s"], 31.0)
        self.assertAlmostEqual(m["op_geomean_ms"], 200.0)
        self.assertAlmostEqual(m["triples_per_s"], 20.0)
        self.assertEqual(m["peak_mem_mb"], 512.0)
        self.assertEqual(metrics.op_latency(records), {"samples": 2, "p50_ms": 250.0})


class MetricNamesTest(unittest.TestCase):
    def test_names_are_unique_and_within_the_contract(self):
        names = [n for n, _ in metrics.per_layer_names()] + [n for n, _ in metrics.END_TO_END]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.per_layer_names()), 128)
        self.assertTrue(all(len(n) <= 64 for n in names))


if __name__ == "__main__":
    unittest.main()
