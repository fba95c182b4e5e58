#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

Run from the root of a checkout (takes a few minutes, mostly JVM start-up):

    python3 perfbench/smoke_test.py

It checks that every metric named in BENCHMARK.json is printed with its
unit, that a planted wrong pair count is reported as a failure, and that the
traced run computes `trace.layer_cover` and writes a span dump.
"""
import json
import math
import subprocess
import sys
import unittest
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
TINY = ["--scale", "0.02", "--seconds", "0.5"]


def bench(workload, trace, *extra):
    """Runs the benchmark; returns (report, result) from its last two lines."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--trace", str(trace), *TINY, *extra],
        check=True, stdout=subprocess.PIPE, text=True, timeout=900).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


class Smoke(unittest.TestCase):

    def check_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics_and_correct_counts(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                report, result = bench(w["name"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 2)
                self.assertEqual(result["failed"], 0)
                self.assertEqual(report["failed_frac"], 0.0)
                ref = report["reference"]["count"]
                self.assertTrue(all(q["result"] == ref for q in report["queries"]))

    def test_planted_wrong_count_is_a_failure(self):
        report, result = bench(SPEC["workloads"][0]["name"], 0, "--plant-wrong-count")
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertEqual(report["failed_frac"], 1.0)

    def test_traced_run_reports_layers_and_spans(self):
        w = "gaussian-pp-write"
        report, result = bench(w, 1)
        self.check_metrics(result, SPEC["per_layer"])
        self.assertTrue(result["correct"])
        cover = result["metrics"]["trace.layer_cover"]["value"]
        self.assertTrue(0.0 < cover <= 1.0, cover)
        self.assertTrue(math.isfinite(result["metrics"]["trace.overhead_frac"]["value"]))
        dump = json.loads(Path(f".bench_build/spans/{w}-seed7.json").read_text())
        names = {s["name"].split(" ")[0] for s in dump["spans"]}
        self.assertTrue({"query", "read", "plan", "execute", "job", "stage"} <= names)
        ids = {s["id"] for s in dump["spans"]}
        self.assertTrue(all(s["parent"] == 0 or s["parent"] in ids for s in dump["spans"]))
        self.assertTrue(all(s["self_ms"] >= -1e-6 for s in dump["spans"]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
