"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

- every generator is deterministic per seed (same seed, same bytes;
  another seed, different bytes);
- BENCHMARK.json and perfbench/config.json name the same metrics;
- a smoke run of every workload on tiny inputs prints every named metric
  with its unit, untraced and traced;
- a smoke run with a deliberately wrong expected result counts it as a
  failure.

The smoke runs build the engine on first use (sbt, offline), like the
benchmark itself.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["pipe", "suite-driver", "ingest-stream"]


def digest(directory):
    h = {}
    for d, _, files in os.walk(directory):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                h[os.path.relpath(p, directory)] = hashlib.sha256(fh.read()).hexdigest()
    return h


def run_bench(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def check(self, write, seeded):
        with tempfile.TemporaryDirectory() as t:
            runs = {}
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                write(os.path.join(t, name), seed)
                runs[name] = digest(os.path.join(t, name))
            self.assertTrue(runs["a"])
            self.assertEqual(runs["a"], runs["b"])
            for f in seeded:
                self.assertNotEqual(runs["a"][f], runs["c"][f], f)

    def test_suite_tables(self):
        self.check(lambda d, s: gen.suite_tables(d, s, 0.001),
                   [f"{t}.parquet" for t in ("customer", "supplier", "part", "orders",
                                             "lineitem", "events", "documents", "embeddings")])

    def test_pipe_table(self):
        self.check(lambda d, s: gen.pipe_table(d, s, 5000, 2),
                   ["part-000.parquet", "part-001.parquet"])

    def test_ingest_files(self):
        self.check(lambda d, s: gen.ingest_files(d, s, 100, 3, 5),
                   ["base.parquet", "ticks/tick-00000.parquet", "ticks/tick-00002.parquet"])


class MetricListTest(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "config.json")) as f:
            cfg = json.load(f)
        for key in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in bench[key]],
                             [(m["name"], m["unit"]) for m in cfg[key]])
        self.assertEqual([w["name"] for w in bench["workloads"]], list(cfg["workloads"]))


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, "config.json")) as f:
            cls.cfg = json.load(f)

    def assert_metrics(self, result, names):
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in names:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_workload_prints_every_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                self.assert_metrics(run_bench(w, 0), self.cfg["end_to_end"])
            with self.subTest(workload=w, trace=1):
                self.assert_metrics(run_bench(w, 1), self.cfg["per_layer"])

    def test_wrong_expected_result_is_a_failure(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run_bench(w, 0, "--break-check")
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
