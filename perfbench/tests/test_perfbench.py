#!/usr/bin/env python3
"""The benchmark's own tests: a tiny-input smoke run of every workload in
both modes, and generator determinism per seed.

    python3 perfbench/tests/test_perfbench.py

Takes a few minutes (one JVM per run). Run from the root of a checkout.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def bench(workload, trace, seed=3):
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        capture_output=True, text=True, timeout=run.RUN_TIMEOUT_S + run.BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        res = bench(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(res["metrics"]), [m["name"] for m in want])
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        if not trace:
            for name in ("setup_s", "ops_per_s", "cpu_us_per_op"):
                self.assertGreater(res["metrics"][name]["value"], 0)

    def test_workloads_untraced(self):
        # ingest_skewed is not listed; it also runs inside traced extract_steady
        for name in [w["name"] for w in SPEC["workloads"]] + ["ingest_skewed"]:
            with self.subTest(workload=name):
                self.check(name, 0)

    def test_workloads_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 1)


class Layers(unittest.TestCase):
    def test_every_per_layer_metric_is_mapped(self):
        layers = json.loads((HERE / "layers.json").read_text())["per_layer"]
        self.assertEqual(sorted(layers), sorted(m["name"] for m in SPEC["per_layer"]))
        end_to_end = {m["name"] for m in SPEC["end_to_end"]}
        for name, entry in layers.items():
            with self.subTest(metric=name):
                self.assertTrue(entry["layer"])
                for m in entry["moves"]:
                    self.assertIn(m["metric"], end_to_end)
                    self.assertIn(m["workload"], run.WORKLOADS)
                for w in entry["flat_on"]:
                    self.assertIn(w, run.WORKLOADS)


class Determinism(unittest.TestCase):
    def test_generators(self):
        jars = run.spark_jars()
        classes = run.build(jars)
        work = run.WORK / "selftest"
        try:
            r = subprocess.run(
                run.java_cmd(classes, jars, work / "tmp", "graftbench.SelfTest",
                             [str(work / "w")]),
                capture_output=True, text=True, timeout=run.RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertNotIn("FAIL", r.stdout)
        self.assertGreaterEqual(r.stdout.count("ok  "), 8, r.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
