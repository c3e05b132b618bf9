#!/usr/bin/env python3
"""Smoke test of the benchmark harness: each workload at its smoke size,
untraced and traced, must pass its correctness gate and print every metric
BENCHMARK.json names. Catches harness breakage without a full run.

    python3 perfbench/test_smoke.py
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["env"], json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check(self, workload):
        for trace, wanted in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            env, res = run(workload, trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], res)
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
            for m in wanted:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            self.assertEqual(env["workload"], workload)
            if trace:
                self.assertTrue(Path(env["trace_file"]).is_file())
            else:
                for m in wanted:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_replicate(self):
        self.check("replicate")

    def test_curate(self):
        self.check("curate")


if __name__ == "__main__":
    unittest.main()
