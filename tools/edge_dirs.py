#!/usr/bin/env python3
r"""Write an edge-case table dir: the named tables hold every row twice.

Usage: python3 tools/edge_dirs.py <srcDir> <outDir> <table>[,<table>...]

<srcDir> is an sf dir (one <table>.parquet per table). In <outDir> each
named table is rewritten with every row repeated (DuckDB COPY of the
table UNION ALL itself), and every other table is symlinked to its
source file. The result is an sf dir: graft.Verify, tools/check_oracle.py
and graft.Bench run on it unchanged, e.g.

  python3 tools/edge_dirs.py /data/sf0.01 /tmp/dup embeddings
  SPARK_GRAFT_ONLY=ann_ivf_,ann_pq_det \
    sbt "runMain graft.Verify /tmp/dup /tmp/v"
  python3 tools/check_oracle.py /tmp/dup /tmp/v

Only the duplicated-row kind exists so far; empty, one-row and null
tables are further kinds of the same sweep.
"""
import glob
import os
import sys

import duckdb


def write_doubled(src_dir, out_dir, doubled):
    """Write `out_dir` from `src_dir`; returns {table: rows written}."""
    doubled = set(doubled)
    tables = sorted(os.path.basename(p)[:-len(".parquet")]
                    for p in glob.glob(os.path.join(src_dir, "*.parquet")))
    missing = doubled - set(tables)
    if missing:
        raise ValueError(f"no such table in {src_dir}: "
                         f"{', '.join(sorted(missing))}")
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    con = duckdb.connect()
    try:
        for t in tables:
            src = os.path.abspath(os.path.join(src_dir, f"{t}.parquet"))
            dst = os.path.join(out_dir, f"{t}.parquet")
            if os.path.lexists(dst):
                os.remove(dst)
            if t in doubled:
                con.execute(
                    f"COPY (SELECT * FROM '{src}' UNION ALL "
                    f"SELECT * FROM '{src}') TO '{dst}' (FORMAT parquet)")
                written[t] = con.execute(
                    f"SELECT count(*) FROM '{dst}'").fetchone()[0]
            else:
                os.symlink(src, dst)
    finally:
        con.close()
    return written


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__)
    src_dir, out_dir, names = argv[1], argv[2], argv[3].split(",")
    for t, n in write_doubled(src_dir, out_dir, names).items():
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main(sys.argv)
