#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the program):

    python3 perfbench/test_bench.py

Checks BENCHMARK.json against the benchmark contract, the result
assembly in run.py, and runs the harness self-test (generator
determinism; a perturbed digest, a dropped record and a wrong final
alarm state are each caught as failures).
"""
import json
import os
import pathlib
import re
import shutil
import subprocess
import unittest

import build
import run

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SpecTest(unittest.TestCase):
    def test_metric_names_units_and_counts(self):
        e2e, layers = SPEC["end_to_end"], SPEC["per_layer"]
        self.assertTrue(1 <= len(e2e) <= 16)
        self.assertTrue(1 <= len(layers) <= 128)
        names = [m["name"] for m in e2e + layers] + [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in e2e + layers:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in e2e:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in e2e if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in e2e)}])

    def test_workloads_and_command(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        self.assertEqual(SPEC["paths"], ["perfbench"])
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)


class SelectMetricsTest(unittest.TestCase):
    def test_untraced_needs_every_e2e_metric(self):
        measured = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
        out = run.select_metrics(SPEC, measured, False, "alarm-steady")
        self.assertEqual(set(out), set(measured))
        del measured["setup_s"]
        with self.assertRaises(ValueError):
            run.select_metrics(SPEC, measured, False, "alarm-steady")

    def test_e2e_metric_is_never_zero(self):
        measured = {m["name"]: 0.0 for m in SPEC["end_to_end"]}
        with self.assertRaises(ValueError):
            run.select_metrics(SPEC, measured, False, "corpus-queries")

    def test_every_layer_metric_belongs_to_a_benchmarked_workload(self):
        self.assertEqual(set(run.LAYERS), {w["name"] for w in SPEC["workloads"]})
        for m in SPEC["per_layer"]:
            self.assertTrue(any(m["name"].startswith(p) for p in run.LAYERS.values()),
                            m["name"])

    def test_traced_needs_the_workloads_own_layers(self):
        for workload, prefixes in run.LAYERS.items():
            own = {m["name"]: 2.0 for m in SPEC["per_layer"] if m["name"].startswith(prefixes)}
            out = run.select_metrics(SPEC, own, True, workload)
            self.assertEqual(len(out), len(SPEC["per_layer"]))
            self.assertTrue(all(out[k]["value"] == (2.0 if k in own else 0.0) for k in out))
            for name in ("trace.task_s", sorted(own)[0]):
                missing = dict(own)
                del missing[name]
                with self.assertRaises(ValueError):
                    run.select_metrics(SPEC, missing, True, workload)
            with self.assertRaises(ValueError):
                run.select_metrics(SPEC, dict(own, **{"trace.task_s": float("nan")}), True, workload)


class HarnessSelfTest(unittest.TestCase):
    def test_harness_checks(self):
        classes = build.build()
        work = build.out_dir() / "runs" / f"selftest-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        try:
            cmd = run.jvm_command(classes, work, [])
            main = cmd.index("graftbench.Main")
            cmd = cmd[:main] + ["graftbench.SelfTest", str(work)]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            print(r.stdout)
            self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
            self.assertNotIn("FAIL", r.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
