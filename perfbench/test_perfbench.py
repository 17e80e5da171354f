#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py          # ~6 min

SpecTest checks BENCHMARK.json, SeedTest the seeded generator, and SmokeTest
makes short runs of every workload through run.py (building first if
needed), untraced and traced, each of which must pass its output checks.
"""
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# counts that must repeat exactly for one seed (they come from the first pass)
COUNTS = ["exec.jobs_per_op", "exec.tasks_per_job", "scan.files_read",
          "read.rows_scanned", "commit.meta_bytes", "commit.files_added",
          "txn.tables", "fold.jobs", "dedup.exchanges"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def digest(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SpecTest(unittest.TestCase):
    def test_shape(self):
        b = spec()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], gen.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)

    def test_metric_names(self):
        b = spec()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))


class SeedTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as t:
                a = gen.generate(w, 5, os.path.join(t, "a"))
                b = gen.generate(w, 5, os.path.join(t, "b"))
                c = gen.generate(w, 6, os.path.join(t, "c"))
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertEqual(da, db, w)
                changed = [k for k in da if k != "DONE" and da[k] != dc.get(k)]
                self.assertTrue(changed, f"{w}: seed 6 generated the same files as seed 5")


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, seed, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=1000)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        self.assertEqual(list(res["metrics"]), [m["name"] for m in spec()[kind]])
        return {k: v["value"] for k, v in res["metrics"].items()}

    def test_workloads(self):
        for w in [w["name"] for w in spec()["workloads"]]:
            with self.subTest(workload=w):
                e2e = self.run_bench(w, 1, 0)
                for k, v in e2e.items():
                    self.assertGreater(v, 0, f"{w}: {k}")
                a = self.run_bench(w, 1, 1)
                b = self.run_bench(w, 1, 1)
                for k in COUNTS:
                    self.assertEqual(a[k], b[k], f"{w}: {k} differs between runs of one seed")


if __name__ == "__main__":
    unittest.main()
