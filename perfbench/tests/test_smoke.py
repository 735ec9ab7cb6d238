#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny size: every workload, untraced and
traced, must print each metric BENCHMARK.json names, with its unit, and
pass every output check.

    python3 perfbench/tests/test_smoke.py            # all workloads
    python3 perfbench/tests/test_smoke.py session    # one workload

Takes about a minute per workload and mode on four cores.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--convs", "200", "--seconds", "1"]


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace)] + TINY
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


class Smoke(unittest.TestCase):
    workloads = [w["name"] for w in SPEC["workloads"]]

    def check(self, workload, trace, names):
        code, lines = run(workload, trace)
        self.assertEqual(code, 0, lines[-5:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        for m in names:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertTrue(any(l.startswith("fingerprint ") for l in lines), "no input fingerprint")

    def test_workloads(self):
        for w in self.workloads:
            with self.subTest(workload=w, trace=0):
                self.check(w, 0, SPEC["end_to_end"])
            with self.subTest(workload=w, trace=1):
                self.check(w, 1, SPEC["per_layer"])


if __name__ == "__main__":
    if len(sys.argv) > 1 and not sys.argv[1].startswith("-"):
        Smoke.workloads = [sys.argv.pop(1)]
    unittest.main()
