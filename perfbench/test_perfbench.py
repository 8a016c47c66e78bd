"""Tests of the benchmark itself, at a smoke size (`--seconds 1`).

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root

The end-to-end tests start real runs (about four minutes in all); the
first one builds the library if `.bench_build/` has no current build.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, p.stdout, (json.loads(lines[-1]) if p.returncode == 0 else None)


class HelperTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 15), (20, 30)]), 25)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "name": "harness.op", "op": "q", "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "name": "ops.X.build", "op": "q", "parent": 1, "start_ms": 10, "end_ms": 90},
            {"id": 3, "name": "spark.job", "op": "q", "parent": -1, "start_ms": 20, "end_ms": 50},
        ]
        st = run.self_times(spans, [(0, 100)])
        self.assertAlmostEqual(st["harness"], 0.020)
        self.assertAlmostEqual(st["ops"], 0.050)
        self.assertAlmostEqual(st["spark"], 0.030)

    def test_concurrent_operations_do_not_contain_each_other(self):
        # a land on the generator thread overlaps a stream batch: it belongs
        # to the generator's root, not to the batch's sink phase
        spans = [
            {"id": "b", "name": "etl.load.batch", "op": "r1", "parent": -1, "start_ms": 0, "end_ms": 100},
            {"id": "b-a", "name": "sources.add_batch", "op": "r1", "parent": "b", "start_ms": 0, "end_ms": 80},
            {"id": 7, "name": "etl.extract.land", "op": "generator", "parent": 0, "start_ms": 10, "end_ms": 20},
            {"id": 8, "name": "spark.job", "op": "r1", "parent": -1, "start_ms": 30, "end_ms": 50},
        ]
        st = run.self_times(spans, [(0, 100)], [(0, 100, "generator")])
        self.assertAlmostEqual(st["sources"], 0.060)
        self.assertAlmostEqual(st["etl"], 0.030)
        self.assertAlmostEqual(st["spark"], 0.020)
        self.assertAlmostEqual(st["harness"], 0.090)


class EndToEndTest(unittest.TestCase):
    def assert_metrics(self, out, specs):
        self.assertEqual(set(out["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_is_emitted_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, text, out = bench("--workload", w["name"], "--seed", "3",
                                      "--seconds", "1", "--trace", "0")
                self.assertEqual(rc, 0, text)
                self.assertTrue(out["correct"], text)
                self.assertGreaterEqual(out["attempted"], 1)
                self.assert_metrics(out, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])
                rc, text, out = bench("--workload", w["name"], "--seed", "3",
                                      "--seconds", "1", "--trace", "1")
                self.assertEqual(rc, 0, text)
                self.assertTrue(out["correct"], text)
                self.assert_metrics(out, SPEC["per_layer"])

    def test_corrupted_query_result_is_a_failure(self):
        rc, text, out = bench("--workload", "query_floor", "--seed", "3", "--seconds", "1",
                              "--trace", "0", "--inject", "corrupt-result")
        self.assertEqual(rc, 0, text)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertIn("FAILED", text)

    def test_duplicated_row_is_a_failure(self):
        rc, text, out = bench("--workload", "ingest", "--seed", "3", "--seconds", "1",
                              "--trace", "0", "--inject", "duplicate-row")
        self.assertEqual(rc, 0, text)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertIn("duplicate id", text)

    def test_refuses_to_run_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/project",
                                                          "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
