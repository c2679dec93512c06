#!/usr/bin/env python3
"""Tests of the benchmark's output contract. Each test runs the benchmark,
so the whole file takes a few minutes:

    python3 perfbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(root, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=900)


class OutputContract(unittest.TestCase):
    def check(self, workload, trace, section):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(result["correct"], True)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        for m in SPEC[section]:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in SPEC[section]})
        return result

    def test_every_end_to_end_metric_on_every_workload(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.check(w["name"], 0, "end_to_end")
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_per_layer_metric(self):
        r = self.check("export_chain", 1, "per_layer")["metrics"]
        # the known decimal(38,0) loss shows as exactly the injected count
        self.assertEqual(r["etl.lossy_cast_rows"]["value"], r["sources.overrange_values"]["value"])
        self.assertGreater(r["etl.lossy_cast_rows"]["value"], 0)
        stage_sum = sum(r[f"pipeline.{s}.wall_s"]["value"] for s in
                        ["blocks", "transactions", "receipts", "logs", "contracts",
                         "token_transfers", "tokens"])
        self.assertGreater(stage_sum, 0)
        # the panel probe ran: every panel key was timed and repeated
        for m in SPEC["per_layer"]:
            if m["name"].startswith("panel."):
                self.assertGreater(r[m["name"]]["value"], 0, m["name"])
        self.assertGreater(r["SessionMemo.repeat_over_first"]["value"], 0)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                                ignore=shutil.ignore_patterns("__pycache__"))
            p = run(bare, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
