"""Tests of the benchmark's input generation and a tiny end-to-end run of
every workload.

    python3 -m unittest discover -s connbench -p 'test_*.py'

The Scala side (tail-percentile rule, counting FileSystem) is tested with
`sbt test` in connbench/.
"""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

WORKLOADS = ["scan", "lookup", "pipeline"]


def digest(directory):
    """(relative path, sha256) of every file under `directory`."""
    out = []
    for dp, _, fns in os.walk(directory):
        for f in fns:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out.append((os.path.relpath(p, directory),
                            hashlib.sha256(fh.read()).hexdigest()))
    return sorted(out)


class GenerationTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in WORKLOADS:
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                gen.generate(w, 11, a, scale=0.02)
                gen.generate(w, 11, b, scale=0.02)
                self.assertEqual(digest(a), digest(b), w)
                self.assertTrue(any(p.endswith(".parquet")
                                    for p, _ in digest(a)), w)

    def test_seed_changes_inputs_and_queries(self):
        for w in WORKLOADS:
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                ma = gen.generate(w, 11, a, scale=0.02)
                mb = gen.generate(w, 12, b, scale=0.02)
                data_a = [h for p, h in digest(a) if p.endswith(".parquet")]
                data_b = [h for p, h in digest(b) if p.endswith(".parquet")]
                self.assertNotEqual(data_a, data_b, w)
                if w == "lookup":
                    self.assertNotEqual(ma["queries"], mb["queries"])

    def test_lookup_queries_round_robin_in_equal_shares(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("lookup", 5, d, scale=0.02)
        self.assertEqual(len(m["queries"]), gen.LOOKUP_CLIENTS)
        for qs in m["queries"]:
            kinds = [q["type"] for q in qs]
            self.assertEqual(kinds[:3] * (len(kinds) // 3), kinds)
            self.assertEqual(sorted(kinds[:3]), ["agg", "count", "point"])

    def test_key_range_files_carry_disjoint_stats(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("lookup", 5, d, scale=0.05)
        kr = next(t for t in m["tables"] if t["name"] == "orders_kr")
        stats = [json.loads(f["stats"]) for f in kr["files"]]
        self.assertEqual(len(stats), gen.ORDERS_FILES)
        for lo, hi in zip(stats, stats[1:]):
            self.assertLess(lo["maxValues"]["o_orderkey"],
                            hi["minValues"]["o_orderkey"])


class SmokeTest(unittest.TestCase):
    """One tiny run of each workload in each mode: the result line is
    correct and names exactly the metrics BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.names = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                     1: {m["name"]: m["unit"] for m in spec["per_layer"]}}

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "1", "--trace",
             str(trace), "--scale", "0.01"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_workload_runs_correctly(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_bench(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted",
                                              "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.assertEqual(
                        {k: v["unit"] for k, v in r["metrics"].items()},
                        self.names[trace])


if __name__ == "__main__":
    unittest.main()
