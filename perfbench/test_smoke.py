"""Smoke test of the benchmark: every workload at the tiny size and a fixed
seed, untraced and traced. Each run must pass its checks and print every
metric BENCHMARK.json declares, with the declared unit.

    python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines, r.stderr


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        cls.runs = {(w["name"], t): run(w["name"], t)
                    for w in cls.spec["workloads"] for t in (0, 1)}

    def check(self, key, declared):
        rc, lines, err = self.runs[key]
        self.assertEqual(rc, 0, "%s exited %d: %s" % (key, rc, err[-2000:]))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], key)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        got = result["metrics"]
        for m in declared:
            self.assertIn(m["name"], got, key)
            self.assertEqual(got[m["name"]]["unit"], m["unit"], (key, m["name"]))
            self.assertIsInstance(got[m["name"]]["value"], (int, float), (key, m["name"]))

    def test_end_to_end_metrics_untraced(self):
        for w in self.spec["workloads"]:
            self.check((w["name"], 0), self.spec["end_to_end"])

    def test_per_layer_metrics_traced(self):
        for w in self.spec["workloads"]:
            self.check((w["name"], 1), self.spec["per_layer"])

    def test_curation_kept_set_repeats_across_runs(self):
        digests = [next(l for l in self.runs[("corpus_curation", t)][1]
                        if l.startswith("kept_set_digest:")) for t in (0, 1)]
        self.assertEqual(digests[0], digests[1])


if __name__ == "__main__":
    unittest.main()
