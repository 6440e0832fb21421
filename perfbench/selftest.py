#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py

Covers the percentile rule, generator determinism, span self-time
arithmetic and the cube -> SQL translator. The translator test holds the
benchmark's level/measure table to the registered cube queries' own
oracle SQL (dumped from the engine build, so it builds on first use) on
a small generated fixture.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cubes  # noqa: E402
import fixture  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)

    def test_interpolation(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 0.5), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 0.9), 90.0)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)


class Determinism(unittest.TestCase):
    def test_call_stream(self):
        self.assertEqual(cubes.calls(5, 3), cubes.calls(5, 3))
        self.assertNotEqual(cubes.calls(5, 3), cubes.calls(6, 3))
        # every block carries the same call shapes, whatever the seed
        shape = lambda c: (c["kind"], c["cube"], c.get("level"), str(c.get("drilldowns")),
                           str(c.get("sets")), sorted(c.get("cuts", {})))
        for seed in (5, 6):
            blocks = [cubes.calls(seed, 2)[i:i + cubes.BLOCK_SIZE]
                      for i in (0, cubes.BLOCK_SIZE)]
            self.assertEqual(sorted(map(shape, blocks[0])), sorted(map(shape, blocks[1])))

    def test_readbacks(self):
        self.assertEqual(workloads.readbacks(3), workloads.readbacks(3))
        self.assertNotEqual(workloads.readbacks(3), workloads.readbacks(4))

    def test_fixture(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                fixture.generate(os.path.join(d, name), 0.001, seed)
            read = lambda n, t: pq.read_table(os.path.join(d, n, f"{t}.parquet"))
            for t in ("lineitem", "documents", "embeddings", "events"):
                self.assertTrue(read("a", t).equals(read("b", t)), t)
                self.assertFalse(read("a", t).equals(read("c", t)), t)

    def test_wire(self):
        with tempfile.TemporaryDirectory() as d:
            s1, b1 = fixture.render_wire(os.path.join(d, "a"), 500, 2, 9)
            s2, b2 = fixture.render_wire(os.path.join(d, "b"), 500, 2, 9)
            self.assertTrue(s1.equals(s2))
            self.assertEqual(b1, b2)
            with open(os.path.join(d, "a", "response_000.json")) as f:
                rec = json.load(f)["data"][0]
            self.assertIn("Order Status", rec)     # raw spaced keys on the wire


class SpanArithmetic(unittest.TestCase):
    def test_self_time(self):
        spans = [
            (0, -1, 7, "op", 0.0, 10.0),
            (1, 0, 7, "construct", 1.0, 4.0),
            (2, 0, 7, "exec", 3.0, 8.0),        # overlaps construct by 1
            (3, 2, 7, "inner", 5.0, 6.0),
            (4, 0, 7, "late", 9.5, 12.0),       # runs past its parent
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - (7.0 + 0.5))
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 4.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 2.5)
        self.assertAlmostEqual(stats.coverage(spans)[7], 0.75)


# Registered cube queries as (name prefix, call), transcribed from their
# registrations in SparkEntry.queries.
REGISTERED_CALLS = [
    ("q01_", {"kind": "data", "cube": "trade", "drilldowns": ["Year", "Nation"],
              "measures": ["Trade Value"], "cuts": {"Year": ["1995"]}}),
    ("q146_", {"kind": "multi", "cube": "trade", "sets": [["Year", "Nation"], ["Nation"], []],
               "measures": ["Trade Value", "Line Count"], "cuts": {}}),
    ("q04_", {"kind": "data", "cube": "trade", "drilldowns": ["Year", "Region"],
              "measures": ["Trade Value", "Quantity"],
              "cuts": {"Year": ["1995", "1996"], "Region": ["ASIA", "EUROPE"]}}),
    ("q05_", {"kind": "data", "cube": "trade", "drilldowns": ["Return Flag", "Line Status"],
              "measures": ["Quantity", "Trade Value", "Discounted Value", "Charged Value",
                           "Avg Quantity", "Line Count"]}),
    ("q06_", {"kind": "data", "cube": "trade", "drilldowns": [],
              "measures": ["Trade Value", "Line Count", "Order Count"]}),
    ("q07_", {"kind": "data", "cube": "trade", "drilldowns": ["Region", "Year"],
              "measures": ["Trade Value"]}),
    ("q08_", {"kind": "data", "cube": "trade", "drilldowns": ["Brand"],
              "measures": ["Quantity", "Max Price", "Min Price"]}),
    ("q09_", {"kind": "data", "cube": "trade", "drilldowns": ["Supplier Nation"],
              "measures": ["Trade Value", "Line Count"]}),
    ("q10_", {"kind": "data", "cube": "trade", "drilldowns": ["Mkt Segment", "Order Priority"],
              "measures": ["Order Count", "Trade Value"]}),
    ("q02_", {"kind": "members", "cube": "trade", "level": "Nation ID"}),
    ("q03_", {"kind": "members", "cube": "trade", "level": "Year"}),
    ("q17_", {"kind": "data", "cube": "events", "drilldowns": ["Event Hour", "Event Type"],
              "measures": ["Event Count", "Total Value"]}),
    ("q18_", {"kind": "data", "cube": "events", "drilldowns": ["Prop K"],
              "measures": ["Event Count", "Total Value"],
              "cuts": {"Event Type": ["purchase", "signup"]}}),
    ("q19_", {"kind": "data", "cube": "events", "drilldowns": ["Event Day"],
              "measures": ["Event Count", "User Count", "Avg Value"]}),
    ("q20_", {"kind": "data", "cube": "documents", "drilldowns": ["Lang"],
              "measures": ["Doc Count", "Total Chars", "Avg Chars"]}),
]


class Translator(unittest.TestCase):
    def test_join_pruning(self):
        sql = cubes.to_sql({"kind": "data", "cube": "trade", "drilldowns": ["Return Flag"],
                            "measures": ["Line Count"], "cuts": {}})
        self.assertNotIn("JOIN", sql)
        sql = cubes.to_sql({"kind": "data", "cube": "trade", "drilldowns": ["Supplier Region"],
                            "measures": ["Line Count"], "cuts": {"Region": ["ASIA"]}})
        for alias in (" o ON", " c ON", " n ON", " r ON", " s ON", " sn ON", " sr ON"):
            self.assertIn(alias, sql)
        self.assertNotIn(" p ON", sql)

    def test_against_registered_oracles(self):
        import run
        cp = run.classpath()
        with tempfile.TemporaryDirectory() as d:
            dump = os.path.join(d, "oracle.json")
            subprocess.run(["java", "-cp", cp, "perfbench.Harness", "--dump-oracle", dump],
                           check=True, capture_output=True, timeout=300)
            with open(dump) as f:
                registered = json.load(f)
            data = os.path.join(d, "data")
            fixture.generate(data, 0.01, 11)
            con = oracle.connect(data)
            for prefix, call in REGISTERED_CALLS:
                name = next(k for k in registered if k.startswith(prefix))
                with self.subTest(query=name):
                    mine = con.execute(cubes.to_sql(call)).df()
                    theirs = con.execute(registered[name]).df()
                    self.assertIsNone(oracle.compare(mine, theirs))


if __name__ == "__main__":
    unittest.main(verbosity=2)
