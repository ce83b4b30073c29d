#!/usr/bin/env python3
"""The benchmark's own test. Runs every workload at smoke size and checks
that each metric BENCHMARK.json declares is printed with its unit, that the
correctness gate can fail, and that the benchmark refuses to run without
the engine's sources.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
WORKLOADS = ("batch_sf01", "batch_dupheavy", "stream_ingest")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(args, cwd=ROOT, timeout=600):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    metric_lines = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            metric_lines.setdefault(parts[1], []).append((float(parts[2]), parts[3]))
    return p, result, metric_lines


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.proc, cls.result, cls.lines = run(
            ["--workload", "all", "--size", "smoke", "--seconds", "1", "--trace", "0"])

    def test_all_workloads_pass_the_gate(self):
        self.assertEqual(self.proc.returncode, 0, self.proc.stderr[-3000:])
        self.assertTrue(self.result["correct"])
        self.assertEqual(self.result["failed"], 0)
        self.assertGreaterEqual(self.result["attempted"], 1)

    def test_every_end_to_end_metric_is_printed_with_its_unit(self):
        metrics = self.result["metrics"]
        for w in WORKLOADS:
            for m in SPEC["end_to_end"]:
                got = metrics.get(f"{w}.{m['name']}")
                self.assertIsNotNone(got, f"{w}.{m['name']} missing")
                self.assertEqual(got["unit"], m["unit"])
                self.assertIsInstance(got["value"], float)
                self.assertGreater(got["value"], 0)
                self.assertIn(m["name"], self.lines)

    def test_named_metrics_are_printed(self):
        for name in ("setup_s", "cold_pipeline_s", "pipeline_s", "turns_per_s", "recall",
                     "hardneg_fpr", "storage_peak_mb", "stream_batch_s", "stream_convs_per_s",
                     "compact_s", "stream_recall", "ops_failed"):
            self.assertIn(name, self.lines, name)
        self.assertTrue(all(v == 0 for v, _ in self.lines["ops_failed"]))


class TracedTest(unittest.TestCase):
    def test_traced_run_prints_every_per_layer_metric(self):
        p, result, _ = run(["--workload", "batch_sf01", "--size", "smoke", "--seconds", "1",
                            "--trace", "1"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        for m in SPEC["per_layer"]:
            got = result["metrics"].get(m["name"])
            self.assertIsNotNone(got, m["name"])
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsNotNone(got["value"], m["name"])
        layers = os.path.join(ROOT, ".perfbench_out", "batch_sf01-seed42-layers.json")
        with open(layers) as fh:
            per_layer = json.load(fh)["metrics"]
        for layer in ("signatures", "lshjoin", "verification", "intradup_profile", "tiergate",
                      "cc", "pipeline_ckpt"):
            for k in ("wall_s", "self_s", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb", "tasks", "task_skew", "rows_in", "rows_out"):
                self.assertIn(f"{layer}.{k}", per_layer)
        for k in ("trace.overhead_s", "ckpt_pipeline_s", "resume_s", "lshjoin.buckets_salted",
                  "verification.pass_ratio", "codegen.classes"):
            self.assertIn(k, per_layer)


class GateTest(unittest.TestCase):
    def test_gate_fails_when_detected_pairs_are_hidden(self):
        p, result, _ = run(["--workload", "batch_dupheavy", "--size", "smoke", "--seconds", "1",
                            "--fault"])
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertIn("recall", p.stderr)


class NoEngineTest(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        tmp = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_state-test-")
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(SPEC["command"] + ["--workload", "batch_sf01", "--seed", "1",
                               "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
