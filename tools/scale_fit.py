#!/usr/bin/env python3
"""Fit per-query runtime-vs-input-rows scaling exponents from two or
more Bench runs, one or more per rung, and emit a SCALE_*.md artifact.

Usage:
  python3 tools/scale_fit.py <bench_rung1.json> <bench_rung2.json> \
      [<bench_rung3.json> ...] <out.md>

A rung is the sf dir a Bench run read (its JSON's "sf"): a driver sf
dir or a tools/GenRungs rung dir. Runs may hold the whole registry or
a SPARK_GRAFT_ONLY subset; a query's points are the runs that timed it.

Method: each registered query is assigned its primary input table
(documents / embeddings / events / a TPC-H fact); the exponent is the
least-squares slope of ln(seconds) on ln(input rows) across the rungs
where the query timed successfully. Caveats the table header repeats:
per-query JVM/planning overhead (~0.1-0.3 s) DEFLATES slopes for fast
queries, so sub-second rows are labelled noise-bounded rather than
trusted; on the driver sf dirs documents only grow on the 0.01->0.1
step (500->5,000) and embeddings 500->2,000, so those families' slopes
need rung dirs for more than a single step; facts (lineitem, orders,
events, part, customer, supplier) grow ~10x per sf step.
"""
import json
import math
import sys

import duckdb

FIXED_INPUT = {
    # read the checked-in deterministic log fixture, not the sf dir
    "grep_per_file", "grep_per_file_count", "log_http_stats",
}

# explicit overrides; everything else maps by prefix below
OVERRIDES = {
    "dedup_embedding_cosine": "embeddings",
    "dedup_embedding_cosine_exact": "embeddings",
    "dedup_semantic": "embeddings",
    "dedup_semantic_det": "embeddings",
    # Hamming ANN retrieves over SimHash codes of DOCUMENTS, not the
    # embeddings table the ann_ prefix would imply
    "ann_hamming_topk": "documents",
    "ann_hamming_lsh_topk": "documents",
    "twitter_top5": "events",
    "sql_asof_window": "events",
    "er_blocked_pairs": "part",
    "skyline_parts": "part",
    "orders_open_backlog": "orders",
    "orders_rfm": "orders",
    "orders_ship_lag": "orders",
    "orders_status_pchart": "orders",
}

PREFIXES = [
    ("ann_", "embeddings"), ("embed_", "embeddings"),
    ("events_", "events"), ("cdc_", "events"), ("join_asof", "events"),
    ("text_", "documents"), ("corpus_", "documents"),
    ("pipeline_", "documents"), ("dedup_", "documents"),
    ("media_", "documents"), ("wordcount_", "documents"),
    ("hothttp_", "documents"), ("grep_", "documents"),
]
DEFAULT_TABLE = "lineitem"  # relational/stats/graph/window/sql exhibits

# design rationale for every query whose slope may sit meaningfully
# above linear; queries not listed here and above the threshold are
# flagged NEEDS REVIEW and should fail the round
JUSTIFIED = {
    "ann_brute_topk": "exact oracle baseline: deliberate query x corpus "
        "brute force the approximate paths' recall is measured against",
    "ann_hard_negatives": "exact brute probe with label filter - the "
        "eval-oracle twin of the LSH candidate paths",
    "ann_knn_graph_exact": "the exact n^2 graph, re-registered round 7 "
        "as the eval oracle; the registered default is the LSH path",
    "dedup_embedding_cosine_exact": "the exact block-scheme pair "
        "relation, re-registered round 8 as the eval oracle; the "
        "registered default consumes det-LSH candidates",
    "ann_margin_bitext": "exact |A|x|B| miner kept as the oracle; "
        "ann_margin_bitext_lsh is the registered scale path",
    "ann_recall_eval": "consumes the brute-force oracle relation by "
        "construction (it evaluates recall against it)",
    "ann_knn_classify": "consumes the exact kNN graph as its oracle "
        "feature input; the LSH graph is the scale twin",
    "ann_label_propagation": "diffusion over the exact kNN graph "
        "(oracle form); swaps to the LSH graph at scale",
    "dedup_ngram_jaccard": "output-bound: the near-dup pair relation "
        "itself grows superlinearly in this corpus; candidate "
        "generation is the df-capped shingle index, never all-pairs",
    "ann_hamming_topk": "exact query x corpus Hamming scan kept as the "
        "eval oracle; ann_hamming_lsh_topk (banded pigeonhole "
        "candidates) is the registered scale path",
    "dedup_minhash_calibration": "joins the exact Jaccard relation "
        "(above) onto the sketch candidates - audit query",
    "dedup_edit_distance": "Levenshtein verify on blocked candidate "
        "pairs; the block dictionary bounds the quadratic term",
    "er_blocked_pairs": "pairwise work runs on the distinct-entity "
        "relation per block - dictionary-bounded at any SF",
    "events_linreg_trend": "exact per-key OLS over bounded per-key "
        "history; key count grows linearly",
    "stats_subsample_ci": "fixed 200-resample bootstrap - constant "
        "multiplier on a linear scan, not a growing exponent",
}

THRESH_FLAG = 1.30
NOISE_SECS = 0.5
# a query whose NET-OF-FLOOR max runtime clears this is fit on its
# floor-subtracted times instead of being written off as noise-bounded;
# below it the residual is within the floor estimate's own scatter
ADJ_NOISE_SECS = 0.20
# fewest timed queries a run needs for its low quartile to be a session
# floor: a SPARK_GRAFT_ONLY run of a handful of queries has no
# near-zero-work majority, and its "floor" would be its own queries
MIN_FLOOR_QUERIES = 20


def rows(sf_dir, table):
    con = duckdb.connect()
    n = con.sql(
        f"SELECT count(*) FROM '{sf_dir}/{table}.parquet'").fetchone()[0]
    con.close()
    return n


def table_of(name):
    if name in OVERRIDES:
        return OVERRIDES[name]
    for p, t in PREFIXES:
        if name.startswith(p):
            return t
    return DEFAULT_TABLE


def slope(points):
    # least squares of y on x
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    vx = sum((p[0] - mx) ** 2 for p in points)
    if vx == 0:
        return None
    return sum((p[0] - mx) * (p[1] - my) for p in points) / vx


def run_floor(bench):
    """Per-run fixed-cost estimate: the 25th percentile of the run's
    per-query times. At the small SFs the majority of the registry does
    near-zero data work (214 of 298 queries measure < 0.5 s at
    sf0.001), so a low quartile of the distribution tracks the
    session's fixed planning/trigger floor; the handful of memoized
    sub-floor reads below it keep the estimate conservative rather
    than letting one anomalous 0.0 define it. None when the run timed
    fewer than MIN_FLOOR_QUERIES queries."""
    ts = sorted(t for t in bench["queries"].values()
                if t is not None and t > 0)
    if len(ts) < MIN_FLOOR_QUERIES:
        return None
    return ts[int(0.25 * len(ts))]


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__.split("Method:")[0])
    b_paths, out = sys.argv[1:-1], sys.argv[-1]
    benches = [json.load(open(p)) for p in b_paths]
    sf_dirs = [b["sf"] for b in benches]
    floors = [run_floor(b) for b in benches]
    tables = ["documents", "embeddings", "events", "lineitem", "orders",
              "part", "customer", "supplier", "nation", "region"]
    nrows = {d: {t: rows(d, t) for t in tables} for d in sf_dirs}

    names = sorted(set().union(*[b["queries"].keys() for b in benches]))
    results = []
    for name in names:
        tab = table_of(name)
        # (rows, t, floor) triples collected TOGETHER: pairing floors
        # with ladder positionally after the fact would attach the wrong
        # run's floor whenever a query is missing from an intermediate
        # bench (the skipped run drops out of ladder but not of floors)
        pts, pts_adj, trips = [], [], []
        for b, d, fl in zip(benches, sf_dirs, floors):
            t = b["queries"].get(name)
            if t is None:
                continue
            r = nrows[d][tab]
            trips.append((r, t, fl))
            pts.append((math.log(r), math.log(max(t, 1e-3))))
            if fl is not None:
                pts_adj.append((math.log(r), math.log(max(t - fl, 1e-3))))
        trips.sort()
        ladder = [(r, t) for r, t, _ in trips]
        if name in FIXED_INPUT:
            results.append((name, tab, ladder, None, "fixed input "
                "(checked-in log fixture; sf dir irrelevant by design)"))
            continue
        e = slope(pts) if len(pts) >= 2 else None
        # net of floor only when every point has one
        e_adj = (slope(pts_adj)
                 if len(pts_adj) == len(pts) and len(pts) >= 2 else None)
        tmax = max((t for _, t in ladder), default=0.0)
        tmax_adj = max((t - fl for _, t, fl in trips if fl is not None),
                       default=0.0)
        if e is None:
            verdict = "unmeasurable"
        elif tmax < NOISE_SECS:
            # the fixed floor deflates raw slopes here; if the residual
            # above the floor is still measurable, fit on THAT instead
            # of writing the row off
            if tmax_adj >= ADJ_NOISE_SECS and e_adj is not None:
                # floor subtraction amplifies scatter when the residual
                # is a few hundred ms (a +-0.05 s floor mis-estimate
                # moves these slopes by ~+-0.3), so the flag band is
                # correspondingly wider than the raw-fit one
                e = e_adj
                if e_adj <= 1.15:
                    verdict = "~linear or better (net-of-floor fit)"
                elif e_adj <= THRESH_FLAG + 0.3:
                    verdict = ("superlinear-looking but within the "
                               "floor-subtraction noise band "
                               "(net-of-floor fit on a sub-second "
                               "residual)")
                elif name in JUSTIFIED:
                    verdict = ("SUPERLINEAR, justified: "
                               + JUSTIFIED[name])
                else:
                    verdict = "SUPERLINEAR - NEEDS REVIEW (net-of-floor)"
            else:
                verdict = f"noise-bounded (max {tmax:.2f}s: per-query " \
                    "JVM/planning overhead dominates; slope not " \
                    "meaningful even net of the session floor)"
        elif e <= 1.15:
            verdict = "~linear or better"
        elif e <= THRESH_FLAG:
            verdict = "mildly superlinear - within noise of linear"
        elif name in JUSTIFIED:
            verdict = "SUPERLINEAR, justified: " + JUSTIFIED[name]
        else:
            verdict = "SUPERLINEAR - NEEDS REVIEW"
        results.append((name, tab, ladder, e, verdict))

    results.sort(key=lambda r: (-(r[3] if r[3] is not None else -99)))
    with open(out, "w") as f:
        title = out.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        f.write(f"# {title} - measured per-query scaling exponents\n\n")
        f.write(__doc__.split("Method:")[1].replace("\n", " ")
                .strip() + "\n\n")
        f.write("Runs: " + ", ".join(
            f"{d} ({b['value']:.1f}s total, loadavg {b['loadavg']})"
            for b, d in zip(benches, sf_dirs)) + "\n\n")
        f.write("Estimated per-query session floors (25th percentile of "
                "each run's times; subtracted for the net-of-floor fits "
                "that rescue sub-second rows from the noise-bounded "
                "bucket; n/a below "
                f"{MIN_FLOOR_QUERIES} timed queries): " + ", ".join(
                    f"{d.rsplit('/', 1)[-1]} = "
                    + (f"{fl:.2f}s" if fl is not None else "n/a")
                    for d, fl in zip(sf_dirs, floors)) + "\n\n")
        nets = [f"{d.rsplit('/', 1)[-1]} = "
                f"{b['value'] - fl * len(b['queries']):.1f}s"
                for b, d, fl in zip(benches, sf_dirs, floors)
                if fl is not None]
        if nets:
            f.write("Net-of-floor totals (total minus floor x query "
                    "count — the data-work the run actually did, the "
                    "honest cross-round comparison when the registry "
                    "grows): " + ", ".join(nets) + "\n\n")
        f.write("| query | input table | secs @ each rung | rows ladder | "
                "exponent | verdict |\n|---|---|---|---|---:|---|\n")
        for name, tab, ladder, e, verdict in results:
            secs = " / ".join(f"{t:.2f}" for _, t in ladder)
            rws = " / ".join(f"{r:,}" for r, _ in ladder)
            es = f"{e:.2f}" if e is not None else "-"
            f.write(f"| {name} | {tab} | {secs} | {rws} | {es} |"
                    f" {verdict} |\n")
        flagged = [r for r in results if r[4].startswith("SUPERLINEAR")]
        review = [r for r in flagged if "NEEDS REVIEW" in r[4]]
        f.write(f"\n**{len(flagged)} queries above exponent "
                f"{THRESH_FLAG} with max runtime >= {NOISE_SECS}s; "
                f"{len(review)} unjustified.**\n")
        for name, _, _, e, verdict in flagged:
            f.write(f"- `{name}` (exponent {e:.2f}): "
                    f"{verdict.split(': ', 1)[-1]}\n")
        # fitted slopes at these corpus sizes UNDERSTATE asymptotes
        # (constants dominate a 4x-10x rung), so the queries that are
        # quadratic BY DESIGN are named here regardless of their fitted
        # number - each exists as an eval oracle with a registered
        # sub-quadratic twin
        f.write("\n## Design-quadratic eval oracles (declared, not "
                "fitted)\n\nSmall-corpus constants hide an n^2 "
                "asymptote from the fit above, so these are flagged by "
                "design review, with the registered scale path named:\n\n")
        byname = {r[0]: r for r in results}
        for name in sorted(JUSTIFIED):
            if name not in byname:
                continue
            e = byname[name][3]
            es = f"{e:.2f}" if e is not None else "-"
            f.write(f"- `{name}` (fitted {es}): {JUSTIFIED[name]}\n")
    print(f"wrote {out}; {len(review)} NEEDS REVIEW")
    sys.exit(1 if review else 0)


if __name__ == "__main__":
    main()
