#!/usr/bin/env python3
r"""Write an edge-case table dir: the named tables rewritten as one kind.

Usage: python3 tools/edge_dirs.py [--kind KIND] <srcDir> <outDir> <table>[,<table>...]

<srcDir> is an sf dir (one <table>.parquet per table). In <outDir> each
named table is rewritten by DuckDB COPY as KIND, and every other table is
symlinked to its source file. Kinds:

  dup      every row twice (the table UNION ALL itself; the default)
  empty    no rows, the source's columns and types
  one-row  the source's first row

The result is an sf dir: graft.Verify, tools/check_oracle.py and
graft.Bench run on it unchanged, e.g.

  python3 tools/edge_dirs.py --kind empty /data/sf0.01 /tmp/empty embeddings
  SPARK_GRAFT_ONLY=embed_ sbt "runMain graft.Verify /tmp/empty /tmp/v"
  python3 tools/check_oracle.py /tmp/empty /tmp/v

The null-injection kind of the same sweep does not exist yet.
"""
import glob
import os
import sys

import duckdb

# kind -> the SELECT that rewrites a table read as `src`
KINDS = {
    "dup": "SELECT * FROM {src} UNION ALL SELECT * FROM {src}",
    "empty": "SELECT * FROM {src} LIMIT 0",
    # DuckDB keeps a file's row order by default, so LIMIT 1 is its
    # first row
    "one-row": "SELECT * FROM {src} LIMIT 1",
}


def write_edge(src_dir, out_dir, named, kind="dup"):
    """Write `out_dir` from `src_dir`; returns {table: rows written}."""
    if kind not in KINDS:
        raise ValueError(f"no such kind: {kind} "
                         f"(kinds: {', '.join(sorted(KINDS))})")
    named = set(named)
    tables = sorted(os.path.basename(p)[:-len(".parquet")]
                    for p in glob.glob(os.path.join(src_dir, "*.parquet")))
    missing = named - set(tables)
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
            if t in named:
                select = KINDS[kind].format(src=f"'{src}'")
                con.execute(f"COPY ({select}) TO '{dst}' (FORMAT parquet)")
                written[t] = con.execute(
                    f"SELECT count(*) FROM '{dst}'").fetchone()[0]
            else:
                os.symlink(src, dst)
    finally:
        con.close()
    return written


def main(argv):
    args = argv[1:]
    kind = "dup"
    if args[:1] == ["--kind"] and len(args) > 1:
        kind, args = args[1], args[2:]
    if len(args) != 3:
        sys.exit(__doc__)
    src_dir, out_dir, names = args[0], args[1], args[2].split(",")
    for t, n in write_edge(src_dir, out_dir, names, kind).items():
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main(sys.argv)
