#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload on tiny inputs with
one operation, untraced and traced. Checks that the last stdout line is
the result object, that every metric BENCHMARK.json names for that mode
is present with its unit, and that no operation failed.

    python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        r = smoke(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (1, 0))
        named = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in named})
        for m in named:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(r["metrics"][m["name"]]["value"], float)

    def test_every_workload(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


if __name__ == "__main__":
    unittest.main()
