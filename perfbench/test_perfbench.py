#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

Each test runs perfbench/run.py at tiny size (a few hundred pages, one
set-up round, a one-second window), so the whole file takes a few
minutes. It checks that every workload prints every metric of
BENCHMARK.json with its unit, that a deliberately damaged output is
reported as failed, and that the benchmark refuses to run without the
program beside it.
"""
import json
import math
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace="0", corrupt=None, cwd=ROOT, timeout=600):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "42",
           "--seconds", "1", "--trace", trace, "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=timeout)


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricsTest(unittest.TestCase):
    def check(self, trace, spec_key):
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p = run(w, trace)
                r = result(p)
                detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
                self.assertEqual(detail["failed_frac"], {"value": 0.0, "unit": "ratio"})
                self.assertEqual(detail["commit_s_tail"]["unit"], "s")
                self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in r["metrics"].items():
                    self.assertTrue(math.isfinite(v["value"]), k)
                    if trace == "0":
                        self.assertGreater(v["value"], 0, k)

    def test_end_to_end_metrics_on_every_workload(self):
        self.check("0", "end_to_end")

    def test_per_layer_metrics_on_every_workload(self):
        self.check("1", "per_layer")


class CorruptionTest(unittest.TestCase):
    """One flipped byte in one committed text, and separately one dropped
    url, must each be reported as failed."""

    def test_damaged_outputs_fail(self):
        for w in ("fresh", "increment", "curate"):
            for mode in ("flip-byte", "drop-url"):
                with self.subTest(workload=w, corrupt=mode):
                    r = result(run(w, corrupt=mode))
                    self.assertFalse(r["correct"])
                    self.assertGreaterEqual(r["failed"], 1)


class StandaloneTest(unittest.TestCase):
    """Next to only BENCHMARK.json and the benchmark's own files, the
    command must fail fast without printing a result."""

    def test_refuses_without_program(self):
        alone = BENCH / ".work" / "standalone"
        shutil.rmtree(alone, ignore_errors=True)
        (alone / "perfbench").mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", alone)
        tracked = subprocess.run(["git", "ls-files", "--others", "--cached", "--exclude-standard",
                                  "perfbench"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        files = tracked.stdout.split() if tracked.returncode == 0 else \
            ["perfbench/run.py", "perfbench/build.sbt", "perfbench/project/build.properties"]
        for f in files:
            (alone / f).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(ROOT / f, alone / f)
        try:
            p = run("fresh", cwd=alone, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(alone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
