#!/usr/bin/env python3
"""The benchmark's own checks, on a tiny cube and three queries.

Usage, from the repository root: python3 perfbench/test_smoke.py

For every workload:
  * an untraced run is correct and prints every BENCHMARK.json end_to_end
    metric with its unit, and nothing else;
  * a traced run prints every per_layer metric with its unit;
  * a run told to expect a deliberately wrong checksum or hash reports
    failed ops and correct=false.
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
E2E = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()

    def units(self, result):
        return {k: v["unit"] for k, v in result["metrics"].items()}

    def check_workload(self, w):
        report, result, _ = run.run_workload(self.cp, w, seed=3, seconds=2, trace=0, smoke=True)
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(self.units(result), E2E)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], float, k)
            self.assertGreater(v["value"], 0, k)
        self.assertEqual(report["report"]["ops_failed_frac"]["value"], 0.0)
        self.assertEqual(report["stamp"]["workload"], w)

        _, traced, _ = run.run_workload(self.cp, w, seed=3, seconds=2, trace=1, smoke=True, wrong=True)
        self.assertEqual(self.units(traced), LAYER)
        self.assertFalse(traced["correct"])
        self.assertGreater(traced["failed"], 0)

    def test_cube_read(self):
        self.check_workload("cube_read")

    def test_cube_ingest(self):
        self.check_workload("cube_ingest")

    def test_query_mix(self):
        self.check_workload("query_mix")

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(w["name"] for w in BENCH["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main(verbosity=2)
