"""The metric catalogue (crawlbench/metrics.json) and BENCHMARK.json agree
and stay inside the benchmark contract's limits."""
import json
import os
import re
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load(path):
    with open(path) as fh:
        return json.load(fh)


class CatalogTest(unittest.TestCase):
    def setUp(self):
        self.bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        self.cat = load(os.path.join(BENCH_DIR, "metrics.json"))
        self.workloads = [w["name"] for w in self.bench["workloads"]]
        self.e2e = {m["name"] for m in self.bench["end_to_end"]}

    def test_names_and_units(self):
        names = ([m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]] +
                 self.workloads)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_counts_and_bounds(self):
        self.assertLessEqual(len(self.bench["end_to_end"]), 16)
        self.assertLessEqual(len(self.bench["per_layer"]), 128)
        self.assertTrue(2 <= len(self.workloads) <= 8)
        self.assertTrue(1 <= self.bench["run_seconds"] <= 60)
        for m in self.bench["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m["name"])
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.bench["end_to_end"])}])

    def test_every_layer_metric_names_what_it_should_move(self):
        for m in self.cat["per_layer"]:
            self.assertTrue(m["moves"], m["name"])
            for mv in m["moves"]:
                self.assertIn(mv["metric"], self.e2e, m["name"])
                self.assertIn(mv["workload"], self.workloads, m["name"])
            self.assertTrue(set(m["measured_on"]) <= set(self.workloads), m["name"])

    def test_benchmark_json_mirrors_the_catalogue(self):
        strip = lambda ms, keys: [{k: m[k] for k in keys} for m in ms]
        self.assertEqual(self.bench["end_to_end"],
                         strip(self.cat["end_to_end"], ("name", "unit", "better", "bound")))
        self.assertEqual(self.bench["per_layer"],
                         strip(self.cat["per_layer"], ("name", "unit", "better")))


if __name__ == "__main__":
    unittest.main()
