"""Tests of the benchmark's own entry point (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


class MetricNames(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], sorted(run.WORKLOADS))

    def test_end_to_end_names_and_units_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]], run.E2E)

    def test_per_layer_names_and_units_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["per_layer"]], run.LAYER)

    def test_printed_names_are_the_declared_ones(self):
        for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            names = [m["name"] for m in declared]
            result = run.result(True, 3, 0, {n: 1.5 for n in names}, trace)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                run.report({"kg-fit": result})
            lines = out.getvalue().splitlines()
            last = json.loads(lines[-1])
            self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
            self.assertEqual(list(last["metrics"]), names)
            printed = [ln.split()[1] for ln in lines[:-1] if "failed_frac" not in ln]
            self.assertEqual(printed, names)


class Usage(unittest.TestCase):
    def call(self, *args, cwd=None):
        return subprocess.run([sys.executable, os.path.join(cwd or HERE, "run.py"), *args],
                              capture_output=True, text=True, timeout=60)

    def test_bad_arguments_print_usage_not_a_traceback(self):
        for args in (["--workload", "nope"], ["--seed", "x"], ["--seed", "-1"],
                     ["--trace", "2"], ["--seconds", "0"], ["--mode", "fast"]):
            p = self.call(*args)
            self.assertEqual(p.returncode, 2, args)
            self.assertIn("usage:", p.stderr)
            self.assertNotIn("Traceback", p.stderr)
            self.assertEqual(p.stdout, "")

    def test_without_library_sources_it_fails_and_prints_no_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kg-fit",
                                "--seed", "1", "--seconds", "20", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
            self.assertNotIn("Traceback", p.stderr)


if __name__ == "__main__":
    unittest.main()
