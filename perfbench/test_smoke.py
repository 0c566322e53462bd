#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/test_smoke.py

Runs every workload once untraced and once traced, and checks that each
prints every metric BENCHMARK.json names, with its unit; that the output
check fails a run whose expectation is perturbed; and that the benchmark
refuses to run without the graft sources. Takes a few minutes on 4 cores.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# the smallest inputs each generator accepts comfortably
TINY_ROWS = {"validate_clean": 4000, "validate_poisoned": 4000, "curate": 4000}


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--rows", str(TINY_ROWS[workload]), *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)


def result(workload, trace, *extra):
    r = run(workload, trace, *extra)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}")
    lines = r.stdout.splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


class Smoke(unittest.TestCase):
    def assert_metrics(self, res, wanted, label):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"}, label)
        self.assertTrue(res["correct"], label)
        self.assertGreaterEqual(res["attempted"], 1, label)
        self.assertEqual(res["failed"], 0, label)
        got = res["metrics"]
        self.assertEqual(set(got), {m["name"] for m in wanted}, label)
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], f"{label} {m['name']}")
            self.assertIsInstance(got[m["name"]]["value"], (int, float), f"{label} {m['name']}")

    def test_every_workload_prints_every_metric(self):
        names = [w["name"] for w in SPEC["workloads"]]
        self.assertLessEqual(set(names), set(TINY_ROWS))
        for w in TINY_ROWS:
            res, detail = result(w, 0)
            self.assert_metrics(res, SPEC["end_to_end"], f"{w} untraced")
            self.assertEqual(detail["seed"], 7)
            self.assertIn("effective_cores", detail["cpu_probe_start"])
            self.assertGreater(res["metrics"]["rows_per_s"]["value"], 0)
            res, detail = result(w, 1)
            self.assert_metrics(res, SPEC["per_layer"], f"{w} traced")
            self.assertTrue(pathlib.Path(detail["trace_file"]).is_file())
            m = {k: v["value"] for k, v in res["metrics"].items()}
            self.assertEqual(m["executor.tasks_failed"], 0)
            if w.startswith("validate"):
                self.assertEqual(m["pipeline.committed_parts"], 32)
                self.assertGreater(m["scan.passes"], 1)
                self.assertGreater(m["checks.violation_rows"], 0)
            else:
                self.assertGreater(m["ops.survivors"], 0)

    def test_output_check_rejects_perturbed_expectation(self):
        for w in ("validate_clean", "curate"):
            res, detail = result(w, 0, "--perturb")
            self.assertFalse(res["correct"], w)
            self.assertEqual(res["failed"], res["attempted"], w)
            self.assertTrue(detail["failures"], w)

    def test_refuses_to_run_without_sources(self):
        bare = ROOT / ".bench_work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("target"))
        try:
            r = run("validate_clean", 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
