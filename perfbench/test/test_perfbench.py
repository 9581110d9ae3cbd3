"""Self-test of the query benchmark at sf0.001.

Run from the repository root:

    python3 -m unittest discover -s perfbench/test -v

Each workload runs for one pass, untraced and traced. The test checks that
the result line names every metric of BENCHMARK.json with its unit and that
the outputs check out, and that an altered expected fingerprint is counted
as a failure.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
DATA = "/root/testdata/sf0.001"
FINGERPRINTS = os.path.join(BENCH, "fingerprints", "sf0.001.json")
WORKLOADS = ["tpch", "iterative", "heavy", "write"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, fingerprints=FINGERPRINTS):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--data", DATA,
         "--fingerprints", fingerprints],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):

    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), name)

    def test_every_metric_of_every_workload(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                plain = bench(w, 0)
                self.assert_metrics(plain, SPEC["end_to_end"])
                self.assertTrue(plain["correct"])
                self.assertEqual(plain["failed"], 0)
                traced = bench(w, 1)
                self.assert_metrics(traced, SPEC["per_layer"])
                self.assertTrue(traced["correct"])

    def test_fingerprint_mismatch_is_counted(self):
        with open(FINGERPRINTS) as f:
            fps = json.load(f)
        fps["queries"]["q1"]["hash"] = str(int(fps["queries"]["q1"]["hash"]) + 1)
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(fps, f)
        try:
            result = bench("tpch", 0, fingerprints=f.name)
        finally:
            os.remove(f.name)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertAlmostEqual(result["metrics"]["success_share"]["value"],
                               1 - 1 / result["attempted"])


if __name__ == "__main__":
    unittest.main()
