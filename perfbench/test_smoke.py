"""The benchmark's own test: smoke mode runs every workload once on tiny
inputs and must print every metric BENCHMARK.json names, with its unit,
and pass its output checks.

Run from the repository root:  python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SmokeTest(unittest.TestCase):
    def test_every_metric_printed_and_outputs_correct(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--smoke", "--seed", "3"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1500)
        self.assertEqual(res.returncode, 0, res.stdout[-3000:])
        lines = res.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"], lines[-1][:2000])
        self.assertEqual(result["failed"], 0)
        metrics = result["metrics"]
        for w in spec["workloads"]:
            for m in spec["end_to_end"] + spec["per_layer"]:
                key = f"{w['name']}.{m['name']}"
                self.assertIn(key, metrics)
                self.assertEqual(metrics[key]["unit"], m["unit"], key)
                self.assertIn(f"{m['name']} = ", res.stdout)
        # self times plus the gap account for each operation's wall
        for line in lines:
            if line.startswith("# self time per pass"):
                remainder = float(line.rsplit("remainder ", 1)[1].split()[0])
                self.assertGreaterEqual(remainder, -0.001, line)


if __name__ == "__main__":
    unittest.main()
