#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The JVM self-test covers generator determinism, the planted input
properties, and the output checks rejecting corrupted results. The smoke
tests run each workload for one second, traced, and check the result line
against BENCHMARK.json; one untraced run checks the end-to-end metric set.
The last test checks that the benchmark refuses to run without the engine
sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class PerfbenchTest(unittest.TestCase):

    def result(self, workload, trace):
        p = run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stdout[-3000:])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        section = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in section})
        for m in section:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        return r

    def test_selftest(self):
        p = run("--selftest")
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])

    def test_smoke_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.result(w["name"], 1)

    def test_smoke_untraced(self):
        r = self.result("neardup_ingest", 0)
        for m in SPEC["end_to_end"]:
            self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("--workload", "lab_etl", "--seed", "1", "--seconds", "1", "--trace", "0",
                    cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
