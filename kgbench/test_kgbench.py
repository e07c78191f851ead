#!/usr/bin/env python3
"""Tests of the benchmark itself, at a tiny input size:

- every workload run.py knows (kg_resolve too, which BENCHMARK.json leaves
  out) reports exactly the metrics BENCHMARK.json names, with their units,
  for --trace 0 and --trace 1, and its outputs check correct;
- a written table with one triple dropped is counted as a failed operation;
- without the engine's sources the benchmark exits non-zero, printing no
  result.

Run from the repo root: python3 -m unittest kgbench/test_kgbench.py
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
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, corrupt=0, cwd=ROOT, script=None):
    proc = subprocess.run(
        [sys.executable, script or os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", "--corrupt", str(corrupt)],
        cwd=cwd, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=900)
    return proc


def result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.splitlines()[-1])


class MetricsPresent(unittest.TestCase):

    def test_benchmark_workloads_are_known(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], WORKLOADS)

    def assert_reports(self, res, metrics):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_reports_every_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                self.assert_reports(result(run(w)), SPEC["end_to_end"])
            with self.subTest(workload=w, trace=1):
                self.assert_reports(result(run(w, trace=1)), SPEC["per_layer"])


class CorruptOutput(unittest.TestCase):

    def test_dropped_triple_is_a_failed_operation(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result(run(w, corrupt=1))
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)


class MissingEngine(unittest.TestCase):

    def test_exits_nonzero_without_engine_sources(self):
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(HERE, "target"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "kgbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            proc = run(WORKLOADS[0], cwd=d,
                       script=os.path.join(d, "kgbench", "run.py"))
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"correct"', proc.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
