#!/usr/bin/env python3
"""Self-test of the benchmark: the deterministic per-layer counts repeat
exactly across two traced runs with the same seed and change with the
seed, and every per-layer metric BENCHMARK.json lists is measured (is
nonzero) on at least one workload. Run from the root of a checkout
(about 12 minutes on 4 cores):

    python3 perfbench/tests/test_determinism.py
"""
import json
import os
import subprocess
import sys
import unittest

COUNTS = ("geom.candidates_per_tile", "operators.unset_fids",
          "operators.band_candidates", "operators.verify_pairs",
          "spark.jobs_per_op")
WORKLOADS = ("world_scan", "admin_job", "daily_append", "corpus_dedup")
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(HERE, "run.py")
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def traced(workload, seed):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", "1"],
                         check=True, capture_output=True, text=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, res
    return {k: v["value"] for k, v in res["metrics"].items()}


class Determinism(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            cls.runs[w] = (traced(w, 11), traced(w, 11), traced(w, 12))

    def test_counts_repeat_per_seed(self):
        for w, (a, b, other) in self.runs.items():
            pick = lambda m: {k: m[k] for k in COUNTS}
            self.assertEqual(pick(a), pick(b), f"{w}: counts differ for one seed")
            self.assertNotEqual(pick(a), pick(other), f"{w}: counts ignore the seed")

    def test_every_listed_metric_is_measured(self):
        with open(BENCHMARK) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        unmeasured = [n for n in listed
                      if not any(run[0][n] for run in self.runs.values())]
        self.assertEqual(unmeasured, [], "per-layer metrics no workload measures")


if __name__ == "__main__":
    unittest.main()
