"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s osmbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def fake_raw(workload):
    """A raw report shaped like the benchmark JVM's, with made-up values."""
    samples = {
        "setup_s": [3.1, 2.7, 2.6],
        "lookup_ms": [1.0 + i / 100.0 for i in range(300)],
        "lookup.location_ms": [1.5, 1.7], "lookup.first_touch_ms": [15.0],
        "lookup.present_ms": [1.6], "lookup.absent_ms": [0.8],
        "extract_s": [4.0, 4.5, 5.0], "extract.complete_s": [1.0],
        "extract.write_s": [2.0], "extract.bytes_out": [1e5],
        "coverer.cover_ms": [40.0], "coverer.cells": [1024.0],
        "coverer.ranges": [1024.0], "codec.decode_s": [0.3],
        "apply.minutely_s": [3.0, 3.2],
        "apply.catchup_s": [4.0], "apply.catchup_changes": [900.0],
        "commit.buckets_changed": [20.0], "commit.buckets_rewritten": [20.0],
        "commit.bytes_written": [1e5], "commit.files_written": [20.0],
        "commit.bytes_per_change": [4000.0], "vacuum.wall_s": [0.01],
        "vacuum.bytes_reclaimed": [2e5], "stream.catchup_s": [5.0],
        "untraced.lookup_ms": [1.0 + i / 125.0 for i in range(300)],
        "untraced.extract_s": [4.0, 4.2], "untraced.apply.minutely_s": [2.5],
    }
    usage = {"count": 3, "wall_s": 9.0, "jobs": 75, "tasks": 300,
             "task_s": 20.0, "cpu_s": 10.0, "driver_s": 1.5,
             "shuffle_mb": 9.0, "spill_mb": 0.0, "bytes_written": 3e6,
             "call_sites": {"save at X.scala:1": 3}}
    values = {"pbf_bytes": 266000.0, "elements": 22030.0, "encode_s": 3.0,
              "setup_store_bytes": 9.6e5, "store_bytes": 9.9e5,
              "cores": 4.0, "heap_max_mb": 2147.0, "jvm.gc_s": 0.2,
              "jvm.heap_peak_mb": 900.0,
              "layers": {"expand": usage, "apply.minutely": usage,
                         "extract.complete": usage},
              "plan_ms": [10.0, 20.0], "exec_ms": [100.0],
              "stream_ms": {"addBatch": 4000}, "stream_batches": 1}
    return {"attempted": 500, "failed": 0, "failures": [],
            "samples": samples, "values": values, "workload": workload}


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 99), 99)
        self.assertEqual(run.percentile(xs, 100), 100)
        self.assertEqual(run.percentile([7.0], 99), 7.0)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)

    def test_tail_percentile_leaves_ten_beyond(self):
        for n in (11, 12, 20, 37, 100, 1000):
            p = run.tail_percentile(n)
            rank = max(1, -(-p * n // 100))
            self.assertGreaterEqual(n - rank, 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                rank_up = max(1, -(-(p + 1) * n // 100))
                self.assertLess(n - rank_up, 10, n)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(20), 50)

    def test_tail_percentile_needs_more_than_ten(self):
        self.assertIsNone(run.tail_percentile(10))
        self.assertIsNone(run.tail_percentile(0))


class KnobTest(unittest.TestCase):

    def test_levers_and_knobs_are_refused(self):
        env = {"SPARK_GRAFT_WIDEN": "off", "SPARK_GRAFT_BENCH_ONLY": "q1",
               "SPARK_GRAFT_LOOKUP_VIA_JOB": "1", "PATH": "/bin",
               "SPARK_GRAFT_OSM_MAT_DIR": "x", "SPARK_GRAFT_CPUS": "4"}
        self.assertEqual(run.set_knobs(env), [
            "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_LOOKUP_VIA_JOB",
            "SPARK_GRAFT_OSM_MAT_DIR", "SPARK_GRAFT_WIDEN"])
        self.assertEqual(run.set_knobs({"SPARK_GRAFT_CPUS": "4"}), [])


class SchemaTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(BENCHMARK) as f:
            cls.bench = json.load(f)

    def check_line(self, line, names):
        self.assertEqual(set(line), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertIsInstance(line["correct"], bool)
        self.assertIsInstance(line["attempted"], int)
        self.assertIsInstance(line["failed"], int)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual(set(line["metrics"]), set(names))
        for name, m in line["metrics"].items():
            self.assertRegex(name, NAME)
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], float)
            self.assertRegex(m["unit"], UNIT)
        json.dumps(line, allow_nan=False)

    def test_end_to_end_line_matches_benchmark_json(self):
        spec = {m["name"]: m for m in self.bench["end_to_end"]}
        for w in run.WORKLOADS:
            raw = fake_raw(w)
            line = run.result(raw, run.end_to_end(w, raw))
            self.check_line(line, spec)
            for name, m in line["metrics"].items():
                self.assertEqual(m["unit"], spec[name]["unit"])
                self.assertGreater(m["value"], 0.0, name)

    def test_per_layer_line_matches_benchmark_json(self):
        spec = {m["name"]: m for m in self.bench["per_layer"]}
        for w in run.WORKLOADS:
            raw = fake_raw(w)
            line = run.result(raw, run.per_layer(w, raw))
            self.check_line(line, spec)
            for name, m in line["metrics"].items():
                self.assertEqual(m["unit"], spec[name]["unit"])

    def test_tracing_overhead_compares_the_untraced_window(self):
        # traced p50s 2.495 ms, 4.5 s and 3.1 s against untraced 2.196 ms,
        # 4.1 s and 2.5 s
        for w, bulk in (("serve", 4.5 / 4.1), ("replicate", 3.1 / 2.5)):
            m = run.per_layer(w, fake_raw(w))
            self.assertAlmostEqual(m["trace.lookup_p50_overhead_pct"][0],
                                   100 * (2.495 / 2.196 - 1))
            self.assertAlmostEqual(m["trace.bulk_op_p50_overhead_pct"][0],
                                   100 * (bulk - 1))

    def test_a_failed_check_makes_the_run_incorrect(self):
        raw = dict(fake_raw("serve"), failed=1)
        line = run.result(raw, run.end_to_end("serve", raw))
        self.assertFalse(line["correct"])

    def test_benchmark_json_follows_the_contract(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["osmbench"])
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s",
                                  "better": "lower",
                                  "bound": max(m["bound"]
                                               for m in b["end_to_end"])}])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        runs = 4 + 22 * len(b["workloads"])
        self.assertLess(runs * (b["run_seconds"] + 40), 3420 - 2 * 120)


if __name__ == "__main__":
    unittest.main()
