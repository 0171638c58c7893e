"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root. The JVM self-test (median helper,
streaming oracle fold, rendered feed segments) compiles the harness on
first use and needs SPARK_HOME.
"""
import glob
import importlib.util
import json
import os
import re
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def read(path):
    with open(path) as f:
        return f.read()


def run_module():
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(BENCH, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def emitted_names():
    """Metric names the harness code records: Report.put in the Scala
    sources and the derived metrics run.py adds."""
    names = set()
    for p in glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"), recursive=True):
        names |= set(re.findall(r'r\.put\("([^"]+)"', read(p)))
    names |= set(re.findall(r'm\["([^"]+)"\] =', read(os.path.join(BENCH, "run.py"))))
    return names


@unittest.skipUnless(os.path.exists(os.path.join(ROOT, "BENCHMARK.json")),
                     "no BENCHMARK.json beside the benchmark")
class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.doc = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
        self.metrics = self.doc["end_to_end"] + self.doc["per_layer"]

    def test_names_and_units_are_well_formed(self):
        names = [m["name"] for m in self.metrics] + [w["name"] for w in self.doc["workloads"]]
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.metrics:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_every_named_metric_is_emitted(self):
        have = emitted_names()
        for m in self.metrics:
            self.assertIn(m["name"], have, f"{m['name']} is named but never recorded")

    def test_bounds_and_setup_metric(self):
        e2e = {m["name"]: m for m in self.doc["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        for m in e2e.values():
            self.assertTrue(0 < m["bound"] <= 0.25)
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_workloads_are_the_ones_run_py_runs(self):
        run = run_module()
        self.assertEqual(sorted(w["name"] for w in self.doc["workloads"]), sorted(run.WORKLOADS))
        per_layer = [m["name"] for m in self.doc["per_layer"]]
        for prefixes in run.WORKLOADS.values():
            for p in prefixes:
                self.assertTrue(any(n.startswith(p) for n in per_layer), p)


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME")
class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "selftest"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
