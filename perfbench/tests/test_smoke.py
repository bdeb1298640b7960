"""Smoke self-test of the benchmark: every workload at scale 0.001 passes
all its checks and prints every metric with its unit, and a planted wrong
expected CDC state makes the run fail.

    python3 -m unittest discover -s perfbench/tests     (from the repo root)
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, *extra, trace=0):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.001", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def check_run(self, workload, trace):
        rc, lines, result = run(workload, trace=trace)
        self.assertEqual(rc, 0, "\n".join(lines))
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in declared))
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
        self.assertFalse([l for l in lines if " check " in l and l.endswith("FAILED")])
        return lines

    def test_workloads_end_to_end(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                lines = self.check_run(w, trace=0)
                self.assertTrue(any(f"{w} failed_frac = 0" in l for l in lines))

    def test_workloads_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                lines = self.check_run(w, trace=1)
                self.assertTrue(any("trace.overhead_frac" in l for l in lines[:-1]))

    def test_negative_control_fails_the_cdc_check(self):
        rc, lines, result = run("cdc_upsert", "--negative-control")
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("cdc_upsert check derby_equals_last_write_per_key: FAILED", lines)


if __name__ == "__main__":
    unittest.main()
