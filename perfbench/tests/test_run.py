"""Self-tests of the benchmark's Python half.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

import oracle  # noqa: E402
import querydata  # noqa: E402
import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result(names):
    return {"metrics": {n: 1.5 for n in names}, "setup_s": 2.5, "checks": {"a": True},
            "failed": 0, "attempted": 3, "correct": True}


class OutputTest(unittest.TestCase):
    def test_end_to_end_output_names_every_metric_with_its_unit(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] if m["name"] != "setup_s"]
        for w in s["workloads"]:
            out = run.assemble(s, w["name"], False, fake_result(names), {})
            self.assertEqual(list(out), ["correct", "attempted", "failed", "metrics"])
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                             {m["name"]: m["unit"] for m in s["end_to_end"]})
            self.assertTrue(out["correct"])

    def test_traced_output_fills_only_layers_the_workload_skips(self):
        s = spec()
        for w in s["workloads"]:
            skip = run.NOT_APPLICABLE[w["name"]]
            emitted = [m["name"] for m in s["per_layer"] if not m["name"].startswith(skip)]
            out = run.assemble(s, w["name"], True, fake_result(emitted), {})
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                             {m["name"]: m["unit"] for m in s["per_layer"]})
            for name, m in out["metrics"].items():
                self.assertEqual(m["value"], 0.0 if name.startswith(skip) else 1.5)
            with self.assertRaises(run.BenchError):
                run.assemble(s, w["name"], True, fake_result(emitted[1:]), {})

    def test_failed_check_or_run_makes_the_result_incorrect(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"]]
        out = run.assemble(s, "query_suite", False, fake_result(names), {"oracle:q": False})
        self.assertFalse(out["correct"])
        res = fake_result(names)
        res["failed"] = 1
        self.assertFalse(run.assemble(s, "query_suite", False, res, {})["correct"])

    def test_every_per_layer_metric_belongs_to_a_known_layer(self):
        layers = ("pivot.", "codec.", "rollup.", "io.", "ckpt.", "retain.", "queries.",
                  "spark.", "jvm.", "trace.")
        for m in spec()["per_layer"]:
            self.assertTrue(m["name"].startswith(layers), m["name"])


class InputTest(unittest.TestCase):
    def test_query_tables_are_a_function_of_the_seed(self):
        a, b, c = querydata.tables(5), querydata.tables(5), querydata.tables(6)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["events"].equals(c["events"]))
        docs = a["documents"].column("text").to_pylist()
        self.assertEqual(len(set(docs)), len(docs))


class OracleCompareTest(unittest.TestCase):
    def test_compare_ignores_row_and_column_order_only(self):
        import pandas as pd
        got = pd.DataFrame({"b": [2.5, 1.0], "a": ["y", "x"]})
        want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5]})
        self.assertEqual(oracle.compare(got, want), "")
        self.assertIn("values", oracle.compare(got, want.assign(b=[1.0, 2.5000001])))
        self.assertIn("rows", oracle.compare(got, want.iloc[:1]))


class EmptyDirectoryTest(unittest.TestCase):
    def test_fails_without_a_result_when_only_the_benchmark_is_present(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rollup_full",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
