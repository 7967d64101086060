#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_perfbench.py

Each case runs `perfbench/run.py` the way the benchmark is run, with a
short measured interval. The whole file takes about four minutes once
the benchmark is built.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["hive_retention_purge", "versioned_erasure_stream",
             "versioned_read_delete_mix", "takedown_fanout"]


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py {args} exited {r.returncode}:\n"
                             f"{r.stderr[-3000:]}")
    lines = r.stdout.strip().split("\n")
    return json.loads(lines[-2]), json.loads(lines[-1])


def run(workload, seed=7, seconds=1, trace=0, *extra):
    return bench("--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace), *extra)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds", "1", "--digest"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return r.stdout.strip().split("\n")[-1]

    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (self.digest(w, 5), self.digest(w, 5),
                           self.digest(w, 6))
                self.assertTrue(a.startswith("PERFBENCH_DIGEST "), a)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class SmokeTest(unittest.TestCase):
    def test_every_workload_runs_correctly(self):
        spec = declared()
        self.assertEqual([w["name"] for w in spec["workloads"]], WORKLOADS)
        e2e = [m["name"] for m in spec["end_to_end"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                detail, out = run(w)
                self.assertTrue(out["correct"], detail["failures"])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertGreaterEqual(detail["ops"], 1)
                self.assertEqual(list(out["metrics"]), e2e)
                for name, m in out["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_runs_report_every_layer_metric(self):
        spec = declared()
        layer = [m["name"] for m in spec["per_layer"]]
        # each workload with the layer metrics only it moves
        own = {"versioned_erasure_stream": ["plans.delete_in.jobs",
                                            "sources.files_written"],
               "hive_retention_purge": ["core.delete.s", "backup.bytes",
                                        "core.partitions_emptied"],
               "takedown_fanout": ["pipeline.propagate.s",
                                   "pipeline.bm25_delete.s",
                                   "pipeline.overlap_ratio"]}
        for w, names in own.items():
            with self.subTest(workload=w):
                detail, out = run(w, trace=1, seconds=5)
                self.assertTrue(out["correct"], detail["failures"])
                self.assertEqual(list(out["metrics"]), layer)
                m = {k: v["value"] for k, v in out["metrics"].items()}
                self.assertEqual(m["spark.unattributed_jobs"], 0)
                self.assertGreater(m["spark.jobs"], 0)
                for n in names:
                    self.assertGreater(m[n], 0, n)


class WrongExpectationTest(unittest.TestCase):
    def test_wrong_model_raises_error_rate(self):
        detail, out = run("versioned_erasure_stream", 7, 2, 0,
                          "--wrong-model-at", "1")
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertGreater(detail["error_rate"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
