"""Tests for edge_dirs.py's duplicated-row table dir.

Run from the repo root: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import edge_dirs  # noqa: E402


def rows(path):
    con = duckdb.connect()
    try:
        return sorted(con.execute(f"SELECT * FROM '{path}'").fetchall())
    finally:
        con.close()


class WriteDoubledTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.src = os.path.join(self.tmp.name, "src")
        os.makedirs(self.src)
        con = duckdb.connect()
        for t, n in [("embeddings", 3), ("documents", 2), ("region", 5)]:
            con.execute(f"COPY (SELECT range AS id, 'r' || range AS s "
                        f"FROM range({n})) TO '{self.src}/{t}.parquet' "
                        "(FORMAT parquet)")
        con.close()

    def tearDown(self):
        self.tmp.cleanup()

    def test_named_tables_hold_every_row_twice(self):
        out = os.path.join(self.tmp.name, "out")
        written = edge_dirs.write_doubled(self.src, out,
                                          ["embeddings", "documents"])
        self.assertEqual(written, {"documents": 4, "embeddings": 6})
        for t in ("embeddings", "documents"):
            p = os.path.join(out, f"{t}.parquet")
            self.assertFalse(os.path.islink(p))
            src = rows(os.path.join(self.src, f"{t}.parquet"))
            self.assertEqual(rows(p), sorted(src + src))

    def test_other_tables_are_symlinks_to_the_source(self):
        out = os.path.join(self.tmp.name, "out")
        edge_dirs.write_doubled(self.src, out, ["embeddings"])
        self.assertEqual(sorted(os.listdir(out)),
                         ["documents.parquet", "embeddings.parquet",
                          "region.parquet"])
        for t in ("documents", "region"):
            p = os.path.join(out, f"{t}.parquet")
            self.assertTrue(os.path.islink(p))
            self.assertEqual(os.path.realpath(p), os.path.realpath(
                os.path.join(self.src, f"{t}.parquet")))

    def test_rewrite_over_an_existing_dir(self):
        out = os.path.join(self.tmp.name, "out")
        edge_dirs.write_doubled(self.src, out, ["embeddings"])
        written = edge_dirs.write_doubled(self.src, out, ["region"])
        self.assertEqual(written, {"region": 10})
        self.assertTrue(os.path.islink(os.path.join(out,
                                                    "embeddings.parquet")))

    def test_unknown_table_is_an_error(self):
        with self.assertRaises(ValueError):
            edge_dirs.write_doubled(self.src,
                                    os.path.join(self.tmp.name, "out"),
                                    ["nope"])


if __name__ == "__main__":
    unittest.main()
