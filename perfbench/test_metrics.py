"""Tests of the benchmark's own arithmetic and failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test runs the harness JVM on the `selftest` workload (one op
that works, one that throws); it needs the build that a benchmark run
leaves in .bench_build/ and is skipped without it.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op(name, start, end, ok=True, traced=False, span=0):
    return {"op": name, "span": span, "module": "ga", "pass": 0,
            "traced": traced, "ok": ok, "wrong": False,
            "error": "" if ok else "java.lang.IllegalStateException: boom",
            "start": start, "build_end": start, "end": end,
            "fs_read_ops": 0, "fs_write_ops": 0}


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, beyond = metrics.tail_percentile(xs)
        self.assertEqual((p, v, beyond), (90, 90, 10))

    def test_steps_down_with_fewer_samples(self):
        p, v, beyond = metrics.tail_percentile(list(range(1, 41)))
        self.assertEqual((p, v, beyond), (75, 30, 10))
        p, v, beyond = metrics.tail_percentile(list(range(1, 28)))
        self.assertEqual((p, v, beyond), (62, 17, 10))
        p, _, beyond = metrics.tail_percentile(list(range(1, 211)))
        self.assertEqual((p, beyond), (95, 10))

    def test_short_sample_falls_back_to_max(self):
        p, v, beyond = metrics.tail_percentile([5, 1, 3])
        self.assertEqual((p, v, beyond), (100, 5, 0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])

    def test_union_drops_empty(self):
        self.assertEqual(metrics.union([(2, 2), (3, 1)]), [])

    def test_covered_clips_to_window(self):
        self.assertAlmostEqual(
            metrics.covered([(0, 4), (3, 6), (8, 12)], 2, 10), 6.0)

    def test_self_time_subtracts_union_of_children(self):
        # children overlap each other and stick out of the parent
        self.assertAlmostEqual(
            metrics.self_time((0, 10), [(1, 4), (3, 5), (9, 14)]), 5.0)
        self.assertAlmostEqual(metrics.self_time((0, 10), []), 10.0)


class CallSites(unittest.TestCase):
    def setUp(self):
        self.modules = metrics.module_map(
            os.path.join(ROOT, "src/main/scala/graft"))

    def test_package_files_map_to_their_module(self):
        if not self.modules:
            self.skipTest("no engine sources in this directory")
        self.assertEqual(self.modules["Snapshots.scala"], "sources")
        self.assertEqual(self.modules["Graft.scala"], "api")
        self.assertEqual(self.modules["CurationOps.scala"], "text")
        self.assertEqual(self.modules["VectorOps.scala"], "vec")
        self.assertEqual(self.modules["Ckpt.scala"], "Ckpt")

    def test_site_strings(self):
        mods = {"Snapshots.scala": "sources", "Graft.scala": "api"}
        self.assertEqual(metrics.site_module(
            "save at Snapshots.scala:231", mods), "sources")
        self.assertEqual(metrics.site_module(
            "localCheckpoint at Graft.scala:1702", mods), "api")
        self.assertEqual(metrics.site_module(
            "collect at Main.scala:90", mods), "other")
        self.assertEqual(metrics.site_module("", mods), "other")


def record():
    """A run record with one failed op among four."""
    ops = [op("a", 0.0, 1.0), op("b", 1.0, 1.5, ok=False),
           op("a", 1.5, 2.5), op("a", 2.5, 3.5)]
    return {"workload": "interactive", "ops": ops, "window_s": 3.5,
            "rows_read": 30, "setup_reps_s": [3.0, 1.0, 2.0],
            "jvm_boot_s": 0.5, "heap_mb": [90.0, 100.0], "passes": 1}


class FailureAccounting(unittest.TestCase):
    def test_failed_op_is_not_timed(self):
        m, stamps = metrics.end_to_end(record(), gen_s=1.0)
        self.assertEqual(stamps["samples"], 3)
        self.assertAlmostEqual(m["op_latency_p50_s"][0], 1.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 3 / 3.5)
        self.assertAlmostEqual(m["setup_s"][0], 1.0 + 0.5 + 2.0)

    def test_overhead_pairs_traced_and_untraced(self):
        ops = [op("a", 0, 1.1, traced=True), op("a", 2, 3.0),
               op("b", 3, 5.0, ok=False, traced=True), op("b", 5, 6)]
        self.assertAlmostEqual(metrics.overhead(ops), 0.1)


class MetricNames(unittest.TestCase):
    """The run emits exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as fh:
            self.bench = json.load(fh)

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.bench[key]}

    def test_end_to_end(self):
        m, _ = metrics.end_to_end(record(), 1.0)
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.declared("end_to_end"))

    def test_per_layer(self):
        rec = record()
        rec["ops"][0]["traced"] = True
        rec["trace"] = {"spans": [], "jobs": [], "stages": [], "plans": [],
                        "ckpt_bytes_peak": 0}
        m = metrics.per_layer(rec, {}, 0.0)
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.declared("per_layer"))


class HarnessSelfTest(unittest.TestCase):
    def test_throwing_op_counted_failed(self):
        if not os.path.exists(os.path.join(
                ROOT, ".bench_build/perfbench/classes.stamp")):
            self.skipTest("build the benchmark first (run it once)")
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "selftest",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["attempted"], 2 * res["failed"])
        self.assertIn("IllegalStateException", r.stdout)


if __name__ == "__main__":
    unittest.main()
