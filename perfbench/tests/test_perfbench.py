"""Tests of the benchmark itself.

Run from the root of a checkout (each test launches the benchmark JVM, so
the whole file takes several minutes):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


def result_of(proc):
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    return json.loads(lines[-1])


class SelfTest(unittest.TestCase):
    def test_inputs_are_seeded_and_checks_catch_corruption(self):
        """Same seed -> same inputs and planted outcomes; other seed ->
        other inputs; every correctness check fails on a corrupted output."""
        p = run("--selftest")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        checks = result_of(p)["checks"]
        self.assertGreaterEqual(len(checks), 10)
        self.assertEqual([k for k, ok in checks.items() if not ok], [])


class MetricNames(unittest.TestCase):
    def check_names(self, workload, trace, spec_key):
        p = run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result_of(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in r["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        return r

    def test_end_to_end_names_match_benchmark_json(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.check_names(w["name"], 0, "end_to_end")
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_per_layer_names_match_benchmark_json(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_names(w["name"], 1, "per_layer")


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_library_sources(self):
        """With only BENCHMARK.json and perfbench/ present the benchmark
        exits non-zero and prints no result."""
        bare = os.path.join(BENCH, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".build", ".work", ".results", "target",
                                "__pycache__"))
            p = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"),
                 "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
