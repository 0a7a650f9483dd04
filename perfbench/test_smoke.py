#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001: one pass of every workload,
untraced and traced. Asserts that every end-to-end metric (and, traced,
every per-layer metric) prints by name with its unit, that no run fails
and that wrong_results is 0. Also asserts the benchmark refuses to run
without the engine sources beside it.

Run from the root of a checkout: python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(cwd, script, workload, trace):
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, declared):
        r = bench(ROOT, os.path.join(HERE, "run.py"), workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        detail, result = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))
        self.assertEqual(detail["metrics"]["wrong_results"]["value"], 0, detail["wrong"])
        self.assertEqual(result["failed"], 0, detail["failures"])
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        return detail

    def test_every_workload_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                detail = self.check(w["name"], 0, SPEC["end_to_end"])
                for name in ("failed_frac", "wrong_results"):
                    self.assertIn("unit", detail["metrics"][name])

    def test_every_workload_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                detail = self.check(w["name"], 1, SPEC["per_layer"])
                self.assertTrue(os.path.exists(os.path.join(ROOT, detail["spans"])))

    def test_refuses_without_engine_sources(self):
        iso = os.path.join(HERE, ".work", "isolated")
        shutil.rmtree(iso, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(iso, "perfbench"),
                        ignore=lambda d, names: [n for n in names if n in (".work", "target")
                                                 or (n == "project" and d.endswith("project"))])
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), iso)
        r = bench(iso, os.path.join("perfbench", "run.py"), SPEC["workloads"][0]["name"], 0)
        shutil.rmtree(iso, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
