#!/usr/bin/env python3
"""Smoke tests of the benchmark: every workload at the smoke scale, timed
and traced. Each run must pass its output checks and print every metric
BENCHMARK.json names, with its unit.

    python3 perfbench/test_smoke.py          # from the root of a checkout
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("seq-batch", "seq-resume", "curate-text", "cde-tables")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, cwd=ROOT, seed=3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=400)


class SmokeTest(unittest.TestCase):
    def check_result(self, workload, trace):
        done = run(workload, trace)
        self.assertEqual(done.returncode, 0, f"{workload} trace={trace} failed")
        result = json.loads(done.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], f"{workload}: output checks failed")
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        listed = spec()["per_layer" if trace else "end_to_end"]
        want = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertTrue(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]),
                            f"{workload} {name} = {m['value']}")
            if not trace:
                self.assertGreater(m["value"], 0, f"{workload} {name} is 0")
        host = json.loads(done.stdout.strip().splitlines()[-2])["host"]
        self.assertEqual(set(host), {"nproc", "load_1m_before", "load_1m_after"})

    def test_workloads(self):
        for workload in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    self.check_result(workload, trace)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare_checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            done = run("seq-batch", 0, cwd=bare)
            self.assertNotEqual(done.returncode, 0)
            self.assertEqual(done.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
