"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests

The Scala self-test (tail percentile, recall, top-k comparison, generator
determinism, metric names) runs through run.py; it compiles the engine on
first use.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def result(metrics, **over):
    r = {"correct": True, "attempted": 3, "failed": 0,
         "metrics": {n: {"value": 1.25, "unit": "ms"} for n in metrics}}
    r.update(over)
    return json.dumps(r)


class BenchmarkSpec(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_keys_and_limits(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(self.spec["workloads"]) <= 8)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, run.NAME)
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.spec["end_to_end"])}])


class ResultLine(unittest.TestCase):
    def e2e(self):
        return run.expected_metrics(0)

    def test_valid_line(self):
        parsed, err = run.validate(result(self.e2e()), 0)
        self.assertIsNone(err)
        self.assertTrue(parsed["correct"])

    def test_rejects_missing_or_extra_metrics(self):
        self.assertIsNotNone(run.validate(result(self.e2e()[1:]), 0)[1])
        self.assertIsNotNone(run.validate(result(self.e2e() + ["extra"]), 0)[1])
        self.assertIsNotNone(run.validate(result(self.e2e()), 1)[1])

    def test_rejects_bad_names_and_shapes(self):
        self.assertIsNotNone(run.validate(result(["bad name"]), 0)[1])
        self.assertIsNotNone(run.validate(result(self.e2e(), attempted=0), 0)[1])
        self.assertIsNotNone(run.validate(result(self.e2e(), extra=1), 0)[1])
        self.assertIsNotNone(run.validate("not json", 0)[1])

    def test_name_pattern(self):
        for ok in ("setup_s", "op.build_ms", "join_ivf.scan_frac", "9lives"):
            self.assertRegex(ok, run.NAME)
        for bad in ("", "_x", ".x", "a b", "p50%", "x" * 65):
            self.assertNotRegex(bad, run.NAME)


class ScalaSelfTest(unittest.TestCase):
    def test_selftest(self):
        p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--selftest"],
                           cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertIn("selftest passed", p.stdout)


if __name__ == "__main__":
    unittest.main()
