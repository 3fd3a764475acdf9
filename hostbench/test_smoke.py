"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m unittest hostbench/test_smoke.py

Run from the repository root. Each case is one run of hostbench/run.py with
--smoke 1 (tiny inputs, one set-up, one pass).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, inject=0):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", "1",
         "--inject-failure", str(inject)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], trace=0)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.check_metrics(r, SPEC["end_to_end"])
                self.assertEqual(r["metrics"]["ok_ratio"]["value"], 1.0)

    def test_per_layer_metrics_and_coverage(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], trace=1)
                self.assertTrue(r["correct"])
                self.check_metrics(r, SPEC["per_layer"])
                coverage = r["metrics"]["trace.coverage"]["value"]
                self.assertGreater(coverage, 0.0)
                self.assertLessEqual(coverage, 1.0 + 1e-9)

    def test_injected_failure_is_counted(self):
        r = run("dem_edit_flow", trace=0, inject=1)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)
        self.assertGreater(r["failed"] / r["attempted"], 0.0)
        self.assertLess(r["metrics"]["ok_ratio"]["value"], 1.0)
        # the failed pass gives no time; the passing ones still do
        self.assertGreater(r["metrics"]["run_s"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
