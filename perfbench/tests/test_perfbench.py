"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

`SmokeTest` builds the program and runs every workload once at sf0.001
(a few minutes); the other tests are pure Python and take a second.
"""
import json
import os
import random
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(run.relational_ops(random.Random(3), 50),
                         run.relational_ops(random.Random(3), 50))
        tokens = [10 + i % 91 for i in range(5000)]
        self.assertEqual(run.ingest_inputs(random.Random(3), tokens),
                         run.ingest_inputs(random.Random(3), tokens))
        self.assertNotEqual(run.relational_ops(random.Random(3), 50),
                            run.relational_ops(random.Random(4), 50))

    def test_every_block_of_ten_holds_each_shape_once(self):
        ops = run.relational_ops(random.Random(1), 30)
        for b in range(0, 30, 10):
            self.assertEqual(sorted(o["shape"] for o in ops[b:b + 10]),
                             sorted(run.SHAPE_TABLES))

    def test_ingest_ids_are_disjoint(self):
        ing = run.ingest_inputs(random.Random(5), [10 + i % 91 for i in range(5000)])
        ids = ing["bench"] + ing["seed"] + [i for b in ing["warmup"] + ing["batches"] for i in b]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual(len(ing["bench"]), 6)

    def test_tail_has_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(40)]
        v, label, n = run.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual((label, n), ("p75.0", 40))
        self.assertEqual(run.tail([1.0, 3.0, 2.0])[:2], (3.0, "max"))
        # with 20 or 21 samples the percentile would not lie above the median
        self.assertEqual(run.tail([float(i) for i in range(21)])[:2], (20.0, "max"))


class SmokeTest(unittest.TestCase):
    def test_smoke_mode_reports_every_named_metric(self):
        proc = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
                              capture_output=True, text=True, timeout=1800)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-4000:])
        self.assertIn("smoke OK", proc.stdout)

    def test_metric_names_and_units_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        for m in bench["per_layer"]:
            self.assertEqual(run.PER_LAYER.get(m["name"]), m["unit"], m["name"])
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
