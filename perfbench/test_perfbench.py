"""The benchmark's own test: every workload runs end to end on a tiny
corpus, prints every metric BENCHMARK.json declares with its unit, and a
deliberately throwing operation raises failed_share and the exit code.

    python3 -m unittest perfbench/test_perfbench.py     (about five minutes)
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, json.loads(lines[-1]) if lines else None


class PerfBenchTest(unittest.TestCase):

    def check_metrics(self, workload, trace):
        rc, lines, result = run(workload, trace)
        self.assertEqual(rc, 0, "\n".join(lines[-20:]))
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        declared = BENCH["end_to_end" if trace == 0 else "per_layer"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            printed = [l for l in lines if re.match(
                rf"\s+{re.escape(m['name'])} = \S+ {re.escape(m['unit'])}(\s|$)", l)]
            self.assertTrue(printed, f"{m['name']} not printed with its unit")
        return result

    def test_surface_end_to_end(self):
        self.check_metrics("surface", 0)

    def test_surface_per_layer(self):
        metrics = self.check_metrics("surface", 1)["metrics"]
        self.assertEqual(metrics["landing.total_s"]["value"], 0.0)
        self.assertGreater(metrics["stream.batches"]["value"], 0)

    def test_heavy_k3_end_to_end(self):
        self.check_metrics("heavy_k3", 0)

    def test_heavy_k3_per_layer(self):
        metrics = self.check_metrics("heavy_k3", 1)["metrics"]
        self.assertGreater(metrics["landing.total_s"]["value"], 0.0)

    def test_throwing_operation_fails_the_run(self):
        rc, lines, result = run("heavy_k3", 0, "--inject-failure")
        self.assertNotEqual(rc, 0)
        self.assertGreater(result["failed"], 0)
        self.assertFalse(result["correct"])
        share = [l for l in lines if l.strip().startswith("failed_share = ")]
        self.assertTrue(share and float(share[0].split()[2]) > 0, share)
        self.assertTrue(any("FAILED perfbench_throws" in l for l in lines))


if __name__ == "__main__":
    unittest.main()
