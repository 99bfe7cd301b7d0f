"""Tests for scale_fit.py's session floor.

Run from the repo root: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scale_fit  # noqa: E402

TABLES = ["documents", "embeddings", "events", "lineitem", "orders",
          "part", "customer", "supplier", "nation", "region"]


def bench(sf, times):
    return {"sf": sf, "value": sum(times.values()), "loadavg": 0.0,
            "queries": times}


class RunFloorTest(unittest.TestCase):

    def test_one_query_run_has_no_floor(self):
        self.assertIsNone(scale_fit.run_floor(bench("x", {"q": 2.0})))

    def test_registry_sized_run_floor_is_low_quartile(self):
        times = {f"q{i:02d}": 0.1 * (i + 1) for i in range(40)}
        # 25th percentile of 0.1 .. 4.0 is the 11th smallest time
        self.assertAlmostEqual(scale_fit.run_floor(bench("x", times)), 1.1)

    def test_fit_of_one_query_runs_prints_no_floor(self):
        with tempfile.TemporaryDirectory() as tmp:
            paths = []
            for rung, (n, secs) in enumerate([(10, 1.0), (100, 8.0)]):
                sf = os.path.join(tmp, f"rung{rung}")
                os.makedirs(sf)
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"COPY (SELECT range AS id FROM range({n})) "
                            f"TO '{sf}/{t}.parquet' (FORMAT parquet)")
                con.close()
                p = os.path.join(tmp, f"b{rung}.json")
                with open(p, "w") as f:
                    json.dump(bench(sf, {"dedup_winnowing": secs}), f)
                paths.append(p)
            out = os.path.join(tmp, "SCALE.md")
            subprocess.run([sys.executable, scale_fit.__file__, *paths, out],
                           check=True, capture_output=True)
            md = open(out).read()
        self.assertIn("rung0 = n/a, rung1 = n/a", md)
        self.assertNotIn("Net-of-floor totals", md)
        # the raw fit still runs: 1.0 s -> 8.0 s over 10x rows
        self.assertIn("| dedup_winnowing | documents | 1.00 / 8.00 |", md)


if __name__ == "__main__":
    unittest.main()
