"""BENCHMARK.json states exactly what spec.json lists: the listed workloads and per-layer metrics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class BenchmarkJsonMatchesSpec(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, "spec.json")) as f:
            self.spec = json.load(f)
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_same_workloads_metrics_and_bounds(self):
        s, b = self.spec, self.bench
        self.assertEqual(b["run_seconds"], s["run_seconds"])
        self.assertEqual(b["workloads"], [{"name": w["name"], "why": w["why"]}
                                          for w in s["workloads"] if w["listed"]])
        self.assertEqual(b["end_to_end"], [{k: m[k] for k in ("name", "unit", "better", "bound")}
                                           for m in s["end_to_end"]])
        self.assertEqual(b["per_layer"], [{k: m[k] for k in ("name", "unit", "better")}
                                          for m in s["per_layer"] if m.get("listed", True)])

    def test_names_are_valid_and_unique(self):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)

    def test_moves_name_known_metrics_and_workloads(self):
        metrics = {m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]}
        workloads = {w["name"] for w in self.spec["workloads"]}
        for m in self.spec["per_layer"]:
            for target, ws in m["moves"].items():
                self.assertIn(target, metrics, m["name"])
                self.assertLessEqual(set(ws), workloads, m["name"])


if __name__ == "__main__":
    unittest.main()
