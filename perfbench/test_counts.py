#!/usr/bin/env python3
"""Determinism check of the traced counts: two traced runs of the same
workload and seed must report exactly the same Spark jobs and stages per
warm pass. This is the base a job budget can be set against; it is not a
budget itself.

    python3 perfbench/test_counts.py            # all workloads, ~5 min
    python3 perfbench/test_counts.py bdqa_loop  # one workload
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
COUNTS = ("scheduler.jobs", "scheduler.stages")


def traced_run(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} run failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class ExactCounts(unittest.TestCase):
    workloads = [w["name"] for w in
                 json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]

    def test_jobs_and_stages_repeat(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                a, b = traced_run(w), traced_run(w)
                self.assertTrue(a["correct"] and b["correct"])
                got = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
                       for k in COUNTS}
                print(f"{w}: " + ", ".join(f"{k} {x:g} / {y:g}"
                                           for k, (x, y) in got.items()),
                      flush=True)
                for k, (x, y) in got.items():
                    self.assertEqual(x, y, f"{w} {k} differs between runs")


if __name__ == "__main__":
    if len(sys.argv) > 1:
        ExactCounts.workloads = sys.argv[1:]
        del sys.argv[1:]
    unittest.main(verbosity=2)
