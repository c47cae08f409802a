"""Self-tests of the steadiness script's percentile code and of
BENCHMARK.json's shape. Run: cd perfbench && python3 -m unittest test_steady"""
import json
import statistics
import unittest
from pathlib import Path

import steady


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [12.0, 10.0, 11.0, 15.0, 9.0, 13.0, 14.0, 10.5, 11.5, 12.5]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(steady.spread(xs), (med, q1, q3, (q3 - q1) / med))

    def test_known_values(self):
        med, q1, q3, sp = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(sp, 1.0)

    def test_constant_sample_has_no_spread(self):
        self.assertEqual(steady.spread([7.0] * 10)[3], 0.0)


class SpecTest(unittest.TestCase):
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

    def test_setup_metric_and_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e.values()))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_names_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
