"""Checks the benchmark's output contract on real runs: the last line of
standard output is one strict-JSON object with exactly the keys
correct/attempted/failed/metrics, and every metric BENCHMARK.json declares
for the run's mode appears with its declared unit and a numeric value.

    python3 -m unittest perfbench/test_output.py

Each workload is run once untraced and once traced with --seconds 1.
"""
import json
import math
import os
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def reject_constant(token):
    raise ValueError(f"non-standard JSON constant {token}")


def last_line(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=900,
        check=True, env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    return out.stdout.decode("utf-8").strip().splitlines()[-1]


class OutputContract(unittest.TestCase):
    def check(self, workload, trace):
        result = json.loads(last_line(workload, trace), parse_constant=reject_constant)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(result["correct"], True)
        self.assertIsInstance(result["attempted"], int)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_declared_metrics_appear_with_units(self):
        for workload in (w["name"] for w in SPEC["workloads"]):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    self.check(workload, trace)


if __name__ == "__main__":
    unittest.main()
