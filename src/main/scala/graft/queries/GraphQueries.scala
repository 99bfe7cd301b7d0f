package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lineage, Tables}
import graft.operators.Graph

/** Graph queries over the nation-to-nation trade graph derived from the
  * TPC-H-ish tables: one directed edge per lineitem, customer nation →
  * supplier nation (the reference's twitter app treats its input as just
  * such an edge list, reference `server/twitter.go:59-67`; cs425_mp4.pdf
  * §3.3 "forms a directed graph").
  *
  * Two edge relations exercise both multi-edge semantics:
  *  - the RAW relation (~|lineitem| parallel edges) feeds degrees, where
  *    multiplicity IS the signal (trade volume);
  *  - the STRONG-TRADE relation — distinct pairs whose weight exceeds
  *    1.15x the mean pair weight — feeds PageRank and triangles. The
  *    threshold is relative, so the graph stays sparse and irregular at
  *    every scale factor, and the comparison is integer-exact
  *    (w * npairs * 100 > 115 * total) so both engines agree bit-for-bit.
  *
  * The PageRank oracle replays the operator's fixed-point integer
  * arithmetic in DuckDB as UNROLLED iteration CTEs (standard SQL forbids
  * aggregation inside a recursive CTE term, and the iteration count is a
  * fixed parameter anyway) — possible only because ranks are integers;
  * float PageRank could never hash-match across engines.
  */
object GraphQueries extends Registry {

  private val Iters = 5
  private val LpaRounds = 4
  private val HitsIters = 3
  private val DampBp = 8500L
  private val Scale = 1000000L
  private val Base = Scale * (10000 - DampBp) / 10000

  /** Raw multi-edge relation: customer nation → supplier nation per
    * lineitem. Star joins onto broadcast-size dims (customer/supplier
    * project to two columns each; Catalyst broadcasts both).
    *
    * Memoized per (session, dir) — r15: 16 registered graph queries
    * derive from this relation (2 raw, 14 via [[strongTradeEdges]]),
    * and each previously re-ran the 4-way lineitem join; the memo
    * materializes the (src, dst) pairs once per session (guide §2.4 —
    * remove repeated shuffles outright; same pattern as the dedup
    * family's shingle-index memo). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.dataFrame(s, s"trade_edges:$d") {
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .select(col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
    }

  /** Distinct pairs above 1.15x mean pair weight. The global stats are a
    * one-row aggregate broadcast back onto the pair relation — no second
    * shuffle, no window over a single partition. Memoized like
    * [[tradeEdges]] (its 14 consumers previously each re-ran the
    * pair aggregation on top of the re-derived raw edges). */
  private def strongTradeEdges(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.dataFrame(s, s"strong_trade_edges:$d") {
      val pairs = tradeEdges(s, d).groupBy("src", "dst")
        .agg(count(lit(1)).as("w"))
      val stats = pairs.agg(sum("w").as("t"), count(lit(1)).as("np"))
      pairs.crossJoin(broadcast(stats))
        .filter(col("w") * col("np") * lit(100L) > lit(115L) * col("t"))
        .select("src", "dst")
    }

  val defs: Map[String, QueryFn] = Map(
    // degree-as-edge-count on the raw multi-edge relation: out_deg is the
    // nation's purchase line count, in_deg its supply line count
    "graph_degrees" -> ((s, d) =>
      Graph.degrees(tradeEdges(s, d), "src", "dst")),

    "graph_pagerank" -> ((s, d) =>
      Graph.pagerankInt(strongTradeEdges(s, d), "src", "dst",
        iters = Iters, dampBp = DampBp.toInt)),

    // Mass-conserving PageRank on the ACYCLIC strong-trade flow (edges
    // oriented low → high nation id), which guarantees dangling nodes —
    // the maximum node id never has out-edges — so the redistribution
    // path is actually exercised. Integer-exact like graph_pagerank: the
    // per-round dangling sum splits as dsum DIV n_nodes, replayed
    // verbatim by the unrolled oracle.
    "graph_pagerank_dangling" -> ((s, d) =>
      Graph.pagerankInt(
        strongTradeEdges(s, d).filter(col("src") < col("dst")),
        "src", "dst", iters = Iters, dampBp = DampBp.toInt,
        redistributeDangling = true)),

    // Personalized PageRank from the node%5=0 seed set over the strong-
    // trade graph — ranks nations by walk-proximity to the seeds, the
    // expand-a-cluster-from-examples primitive (same integer fixed
    // point as graph_pagerank; restart mass only on seeds, ranks start
    // at scale on seeds and 0 elsewhere). Oracle unrolls the rounds.
    "graph_ppr" -> ((s, d) => {
      // the memoized handle is already one materialization: both the
      // operator's own edge scan and the seed set read it
      val edges = strongTradeEdges(s, d)
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .filter(col("node") % 5 === 0)
      Graph.personalizedPagerankInt(edges, "src", "dst", seeds,
        iters = Iters, dampBp = DampBp.toInt)
    }),

    // HITS on the same strong-trade relation: which nations are hubs
    // (buy from the authorities) vs authorities (supply the hubs) —
    // integer L1-renormalized fixed point (Graph.hitsInt), the second
    // link-analysis ranking next to PageRank. Oracle unrolls the
    // rounds; every micro-unit division replays exactly.
    "graph_hits" -> ((s, d) =>
      Graph.hitsInt(strongTradeEdges(s, d), "src", "dst",
        iters = HitsIters)),

    "graph_triangles" -> ((s, d) =>
      Graph.triangles(strongTradeEdges(s, d), "src", "dst")),

    // Single-source hop distances from nation 0 over the undirected
    // strong-trade graph (Graph.bfsHops frontier BFS). The oracle walks
    // the same graph with a DEDUPED recursive CTE — UNION, not UNION ALL,
    // so the recursion state is bounded by nodes x levels instead of
    // path counts — and takes min(level) per node.
    "graph_bfs_hops" -> ((s, d) =>
      Graph.bfsHops(strongTradeEdges(s, d), "src", "dst", source = 0L)
        .select(col("id").as("node"), col("hops"))),

    // Edge reciprocity of the strong-trade graph: the share of directed
    // strong-trade edges whose reverse also qualifies (mutual trade
    // blocs vs one-way supply). Left-semi self-join on the swapped key —
    // ids only, no payload, broadcast-size relation.
    "graph_reciprocity" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
      val rec = e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"),
        "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(rec.agg(count(lit(1)).as("n_reciprocal")))
        .withColumn("reciprocity",
          round(col("n_reciprocal").cast("double") / col("n_edges"), 4))
    }),

    // Weakly connected components of the strong-trade graph — trade
    // blocs. Reuses the label-propagation operator the dedup pipeline
    // uses (Dedup.components: min-reachable-id labels, (id, label)-only
    // shuffles), against an independent recursive-closure oracle.
    "graph_components" -> ((s, d) =>
      graft.operators.Dedup.components(strongTradeEdges(s, d), "src", "dst")
        .select(col("doc_id").as("node"), col("component"))
        .orderBy("node")),

    // Degree assortativity (Newman 2002): Pearson correlation of the
    // endpoint degrees over every directed realization of the simple
    // undirected strong-trade edges — positive = hubs link to hubs,
    // negative = hub-and-spoke. Degrees are exact integers; the corr
    // co-moment runs on identical integer inputs in both engines and
    // rounds to 4 places (the stats_corr parity precedent). Shape: two
    // broadcast-size joins of the degree relation onto the edge list.
    "graph_assortativity" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("w"))
        .distinct()
      val both = e.unionAll(e.select(col("w").as("u"), col("u").as("w")))
      val deg = both.groupBy("u").agg(count(lit(1)).as("deg"))
      both
        .join(deg, Seq("u")).withColumnRenamed("deg", "deg_u")
        .join(deg.withColumnRenamed("u", "w")
          .withColumnRenamed("deg", "deg_w"), Seq("w"))
        .agg(count(lit(1)).as("n_endpoints"),
          // a degree-regular graph has zero degree variance: Spark's
          // corr yields NaN there where DuckDB yields NULL — normalize
          // to NULL so the one-row outputs agree on every graph shape
          when(isnan(corr(col("deg_u").cast("double"),
              col("deg_w").cast("double"))), lit(null))
            .otherwise(round(corr(col("deg_u").cast("double"),
              col("deg_w").cast("double")), 4)).as("assortativity"))
    }),

    // Label-propagation communities (Graph.lpaFixed): synchronous
    // most-frequent-neighbor-label rounds with min-label tie-break over
    // the undirected strong-trade graph — finer than graph_components
    // (which only finds connectivity), coarser than modularity-optimal.
    // The oracle unrolls the identical 4 rounds, each MATERIALIZED.
    "graph_lpa_communities" -> ((s, d) =>
      Graph.lpaFixed(strongTradeEdges(s, d), "src", "dst",
        rounds = LpaRounds)),

    // 5-core of the undirected strong-trade graph: nations that keep at
    // least 5 strong trade partners even after every weaker-connected
    // nation is removed — the "dense bloc" membership test. Fixed
    // 8-round peel (Graph.kcoreFixed); the oracle replays the identical
    // unrolled peel, each round MATERIALIZED so DuckDB cannot inline
    // the doubly-referenced previous round exponentially.
    "graph_kcore" -> ((s, d) =>
      Graph.kcoreFixed(strongTradeEdges(s, d), "src", "dst",
        k = KcoreK, rounds = KcoreRounds)),

    // Link prediction: common-neighbor Jaccard for every 2-hop pair of
    // the undirected strong-trade graph, in integer basis points, with
    // an is_edge flag separating "explains existing edge" from
    // "predicts missing one". The wedge join is the O(sum deg^2)
    // candidate generator all neighborhood methods share (triangles
    // bound the same relation); only (a, c, count) leaves the join, and
    // degrees broadcast back onto the pair relation.
    "graph_jaccard_neighbors" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
      val und = e
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      val inter = und.select(col("src").as("a"), col("dst").as("b"))
        .join(und.select(col("src").as("b"), col("dst").as("c")), "b")
        .filter(col("a") < col("c"))
        .groupBy("a", "c").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(deg.select(col("src").as("a"),
          col("deg").as("da"))), "a")
        .join(broadcast(deg.select(col("src").as("c"),
          col("deg").as("dc"))), "c")
        .join(und.select(col("src").as("a"), col("dst").as("c"),
          lit(1L).as("is_edge")), Seq("a", "c"), "left")
        .select(col("a"), col("c"), col("inter"),
          expr("(inter * 10000) DIV (da + dc - inter)").as("jac_bp"),
          coalesce(col("is_edge"), lit(0L)).as("is_edge"))
        .orderBy("a", "c")
    }),

    // Adamic-Adar link prediction over the same undirected strong-trade
    // graph: AA(a,c) = Σ_{b ∈ N(a)∩N(c)} 1/ln(deg b) — common neighbors
    // weighted inversely by their hubness. Same two-hop join shape as
    // graph_jaccard_neighbors, with the per-common-neighbor term snapped
    // to integer nano-units BEFORE the pair sum (float sums drift with
    // aggregation order; ln on identical operands is the bm25 precedent)
    // — deg(b) >= 2 for any common neighbor, so ln never hits zero.
    "graph_adamic_adar" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
      // und feeds the two-hop join twice, the degree table and the
      // is_edge flag (plan audit: 50 inner joins uncut, 8 cut)
      val und = Lineage.cut(e
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      und.select(col("dst").as("b"), col("src").as("a"))
        .join(und.select(col("src").as("b"), col("dst").as("c")), "b")
        .filter(col("a") < col("c"))
        .join(broadcast(deg.select(col("src").as("b"),
          col("deg").as("degb"))), "b")
        .select(col("a"), col("c"),
          floor(lit(1000000000.0) / log(col("degb").cast("double")) + 0.5)
            .cast("long").as("term_n"))
        .groupBy("a", "c")
        .agg(count(lit(1)).as("inter"), sum("term_n").as("aa_n"))
        .join(und.select(col("src").as("a"), col("dst").as("c"),
          lit(1L).as("is_edge")), Seq("a", "c"), "left")
        .select(col("a"), col("c"), col("inter"), col("aa_n"),
          coalesce(col("is_edge"), lit(0L)).as("is_edge"))
        .orderBy("a", "c")
    }),

    // Modularity of the REGION partition of the undirected strong-trade
    // graph — "do trade blocs follow geography?". Kept integer-exact by
    // reporting each region's modularity contribution scaled by 4m^2:
    //   Q * 4m^2 = sum_r (4*m*e_r - d_r^2)
    // (e_r = within-region edges, d_r = total degree of the region's
    // nodes, m = undirected edge count), so no division ever happens and
    // both engines agree bit-for-bit even on negative contributions.
    // Plan: the edge relation collapses to per-region counters via two
    // broadcast joins onto the 25-row nation dim; only (region, count)
    // crosses a shuffle.
    "graph_modularity" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
      val und = e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w")).distinct()
      val nat = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"),
          col("n_regionkey").cast("long").as("region"))
      val m = und.agg(count(lit(1)).as("m"))
      val deg = und.select(col("u").as("node"))
        .union(und.select(col("w").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val dr = deg.join(broadcast(nat), "node")
        .groupBy("region").agg(sum("deg").as("d_r"))
      val wr = und
        .join(broadcast(nat.select(col("node").as("u"),
          col("region").as("ru"))), "u")
        .join(broadcast(nat.select(col("node").as("w"),
          col("region").as("rw"))), "w")
        .filter(col("ru") === col("rw"))
        .groupBy(col("ru")).agg(count(lit(1)).as("e_r"))
        .select(col("ru").as("region"), col("e_r"))
      dr.join(wr, Seq("region"), "left").crossJoin(broadcast(m))
        .select(col("region"), col("m"),
          coalesce(col("e_r"), lit(0L)).as("e_r"), col("d_r"),
          (lit(4L) * col("m") * coalesce(col("e_r"), lit(0L)) -
            col("d_r") * col("d_r")).as("contrib_scaled"))
        .orderBy("region")
    }),

    // Local clustering coefficient per nation on the undirected
    // strong-trade graph: how close each nation's trade partners are to
    // a clique, cc_bp = (2 * triangles(v) * 10000) DIV (deg*(deg-1)) in
    // integer basis points (numerator and denominator both nonnegative,
    // so Spark DIV and DuckDB // agree). Triangle membership unpivots
    // the already-verified Graph.triangles relation; degrees come from
    // the distinct-neighbor relation. Everything past the edge
    // derivation is dimension-sized.
    "graph_clustering_coeff" -> ((s, d) => {
      val e = strongTradeEdges(s, d).filter(col("src") =!= col("dst"))
      val und = e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w")).distinct()
      val deg = und.select(col("u").as("node"))
        .union(und.select(col("w").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tcnt = Graph.triangles(e, "src", "dst")
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg.join(tcnt, Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("cc_bp",
          expr("(2 * tri * 10000) DIV (deg * (deg - 1))"))
        .orderBy("node")
    }),
  )

  private val KcoreK = 5
  private val KcoreRounds = 8

  /** Unrolled k-core peel: round i keeps nodes whose degree in the
    * previous survivor graph is >= k, then induces the subgraph. Every
    * step MATERIALIZED — u(i-1) is referenced twice per round. */
  private def kcoreSteps: String = (1 to KcoreRounds).map { i =>
    s"""keep$i AS MATERIALIZED (
            SELECT src FROM u${i - 1} GROUP BY src
            HAVING count(*) >= $KcoreK),
       u$i AS MATERIALIZED (
            SELECT u.src, u.dst FROM u${i - 1} u
            JOIN keep$i a ON u.src = a.src
            JOIN keep$i b ON u.dst = b.src)"""
  }.mkString(",\n")

  /** Raw trade edge list as a DuckDB CTE body. */
  private val edgesSql =
    """SELECT CAST(c_nationkey AS BIGINT) AS src,
              CAST(s_nationkey AS BIGINT) AS dst
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey  = c_custkey
       JOIN supplier ON l_suppkey  = s_suppkey"""

  /** Strong-trade CTE chain (expects `e0` = raw edges to exist). */
  private val strongSql =
    """pairs AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
                 FROM e0 GROUP BY src, dst),
       stats AS (SELECT CAST(sum(w) AS BIGINT) AS t,
                        CAST(count(*) AS BIGINT) AS np FROM pairs),
       e AS (SELECT src, dst FROM pairs, stats
             WHERE w * np * 100 > 115 * t)"""

  /** Unrolled synchronous LPA rounds (expects `und` + `l0` to exist):
    * each round counts neighbor labels then takes the (count desc,
    * label asc) argmax per node. MATERIALIZED so the doubly-referenced
    * previous round cannot be inlined exponentially. */
  private def lpaSteps: String = (1 to LpaRounds).map { i =>
    s"""s$i AS MATERIALIZED (
          SELECT u.a, l.label, count(*) AS c
          FROM und u JOIN l${i - 1} l ON u.b = l.node
          GROUP BY 1, 2),
        l$i AS MATERIALIZED (
          SELECT a AS node, label FROM (
            SELECT a, label,
                   row_number() OVER (PARTITION BY a
                     ORDER BY c DESC, label) AS rk
            FROM s$i) r WHERE rk = 1)"""
  }.mkString(",\n")

  /** Unrolled personalized PageRank: like [[pagerankSteps]] but the base
    * term is `n.is_seed * Base` — restart mass only on the seed set. */
  private def pprSteps: String = (1 to Iters).map { i =>
    s"""c$i AS (SELECT e.dst AS node,
                CAST(sum(r${i - 1}.rank // outd.od) AS BIGINT) AS csum
           FROM e
           JOIN outd ON e.src = outd.src
           JOIN r${i - 1} ON r${i - 1}.node = e.src
           GROUP BY e.dst),
       r$i AS (SELECT n.node, n.is_seed,
                CAST(n.is_seed * $Base
                   + (coalesce(c.csum, 0) // 10000) * $DampBp
                   + ((coalesce(c.csum, 0) % 10000) * $DampBp) // 10000
                 AS BIGINT) AS rank
           FROM sn n LEFT JOIN c$i c ON n.node = c.node)"""
  }.mkString(",\n")

  /** Unrolled integer PageRank: c<i> sums truncated contributions into
    * each node, r<i> applies the overflow-safe damping reduction — the
    * exact arithmetic of Graph.pagerankInt (`//` is DuckDB integer
    * division, as DIV is Spark's). */
  private def pagerankSteps: String = (1 to Iters).map { i =>
    s"""c$i AS (SELECT e.dst AS node,
                CAST(sum(r${i - 1}.rank // outd.od) AS BIGINT) AS csum
           FROM e
           JOIN outd ON e.src = outd.src
           JOIN r${i - 1} ON r${i - 1}.node = e.src
           GROUP BY e.dst),
       r$i AS (SELECT n.node,
                CAST($Base + (coalesce(c.csum, 0) // 10000) * $DampBp
                   + ((coalesce(c.csum, 0) % 10000) * $DampBp) // 10000
                 AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
  }.mkString(",\n")

  /** The mass-conserving variant's steps over edge relation `er`: d<i>
    * totals the previous round's dangling rank (nodes with no
    * out-edges), every node's incoming contribution gains dsum // nn
    * before damping — replaying
    * Graph.pagerankInt(redistributeDangling = true) bit-for-bit.
    *
    * Every step is AS MATERIALIZED: DuckDB inlines plain CTEs, and here
    * each r<i> is referenced TWICE (by c<i+1> and d<i+1>), so inlining
    * doubles the expanded plan per iteration — 2^iters copies of the
    * whole edge-derivation chain, which OOMs at sf0.1. Materialization
    * pins each round to one evaluation (the semantics are unchanged). */
  private def pagerankDanglingSteps(er: String): String = (1 to Iters).map { i =>
    val tot = s"coalesce(c.csum, 0) + d$i.dsum // nn.nn"
    s"""d$i AS MATERIALIZED (
           SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dsum
           FROM r${i - 1}
           WHERE node NOT IN (SELECT src FROM $er)),
       c$i AS MATERIALIZED (
           SELECT $er.dst AS node,
                CAST(sum(r${i - 1}.rank // outd.od) AS BIGINT) AS csum
           FROM $er
           JOIN outd ON $er.src = outd.src
           JOIN r${i - 1} ON r${i - 1}.node = $er.src
           GROUP BY $er.dst),
       r$i AS MATERIALIZED (
           SELECT n.node,
                CAST($Base + (($tot) // 10000) * $DampBp
                   + ((($tot) % 10000) * $DampBp) // 10000
                 AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c$i c ON n.node = c.node, d$i, nn)"""
  }.mkString(",\n")

  /** Unrolled integer HITS: per round, authorities sum hub scores over
    * in-edges then renormalize to 1e6 L1 mass (truncating //), hubs sum
    * the NEW authority scores over out-edges and renormalize — the exact
    * arithmetic of Graph.hitsInt. MATERIALIZED throughout: a<i> is read
    * by both hr<i> and the final projection (and h<i> by ar<i+1>), and
    * plain-CTE inlining would re-expand the whole chain per reference. */
  private def hitsSteps: String = (1 to HitsIters).map { i =>
    s"""ar$i AS MATERIALIZED (
           SELECT e.dst AS node, CAST(sum(h.rank) AS BIGINT) AS raw
           FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
       sa$i AS MATERIALIZED (
           SELECT CAST(sum(raw) AS BIGINT) AS s FROM ar$i),
       a$i AS MATERIALIZED (
           SELECT n.node,
                  CAST((coalesce(ar.raw, 0) * 1000000) // sa$i.s
                    AS BIGINT) AS rank
           FROM nodes n LEFT JOIN ar$i ar ON n.node = ar.node, sa$i),
       hr$i AS MATERIALIZED (
           SELECT e.src AS node, CAST(sum(a.rank) AS BIGINT) AS raw
           FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
       sh$i AS MATERIALIZED (
           SELECT CAST(sum(raw) AS BIGINT) AS s FROM hr$i),
       h$i AS MATERIALIZED (
           SELECT n.node,
                  CAST((coalesce(hr.raw, 0) * 1000000) // sh$i.s
                    AS BIGINT) AS rank
           FROM nodes n LEFT JOIN hr$i hr ON n.node = hr.node, sh$i)"""
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "graph_degrees" ->
      s"""WITH e0 AS ($edgesSql),
          o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg
                FROM e0 GROUP BY src),
          i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
                FROM e0 GROUP BY dst)
          SELECT coalesce(o.node, i.node) AS node,
                 CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
                 CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
          FROM o FULL OUTER JOIN i ON o.node = i.node
          ORDER BY node""",

    "graph_pagerank" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od
                   FROM e GROUP BY src),
          nodes AS (SELECT src AS node FROM e
                    UNION SELECT dst FROM e),
          r0 AS (SELECT node, CAST($Scale AS BIGINT) AS rank FROM nodes),
          $pagerankSteps
          SELECT node, rank FROM r$Iters ORDER BY node""",

    "graph_ppr" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          outd AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS od
            FROM e GROUP BY src),
          sn AS MATERIALIZED (
            SELECT node, CAST(CASE WHEN node % 5 = 0 THEN 1 ELSE 0 END
              AS BIGINT) AS is_seed
            FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
          r0 AS (SELECT node, is_seed,
                   CAST(is_seed * $Scale AS BIGINT) AS rank FROM sn),
          $pprSteps
          SELECT node, rank FROM r$Iters ORDER BY node""",

    // same strong-trade chain, edges restricted to src < dst (acyclic
    // flow), then the dangling-redistribution fixed point
    "graph_pagerank_dangling" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ed AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst),
          outd AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS od
            FROM ed GROUP BY src),
          nodes AS MATERIALIZED (
            SELECT src AS node FROM ed
            UNION SELECT dst FROM ed),
          nn AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
          r0 AS MATERIALIZED (
            SELECT node, CAST($Scale AS BIGINT) AS rank FROM nodes),
          ${pagerankDanglingSteps("ed")}
          SELECT node, rank FROM r$Iters ORDER BY node""",

    "graph_hits" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          nodes AS MATERIALIZED (
            SELECT src AS node FROM e UNION SELECT dst FROM e),
          h0 AS MATERIALIZED (
            SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
          $hitsSteps
          SELECT h.node, h.rank AS hub, a.rank AS auth
          FROM h$HitsIters h JOIN a$HitsIters a ON h.node = a.node
          ORDER BY h.node""",

    "graph_kcore" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          u0 AS MATERIALIZED (
            SELECT DISTINCT * FROM (SELECT src, dst FROM e
                                    UNION ALL SELECT dst, src FROM e)),
          $kcoreSteps
          SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
          FROM u$KcoreRounds GROUP BY src ORDER BY node""",

    "graph_jaccard_neighbors" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ed AS (SELECT src, dst FROM e WHERE src <> dst),
          und AS (SELECT DISTINCT * FROM (SELECT src, dst FROM ed
                                          UNION ALL SELECT dst, src
                                          FROM ed)),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM und GROUP BY src),
          inter AS (SELECT x.src AS a, y.dst AS c,
                           CAST(count(*) AS BIGINT) AS inter
                    FROM und x JOIN und y ON x.dst = y.src
                    WHERE x.src < y.dst GROUP BY 1, 2)
          SELECT a, c, inter,
                 CAST((inter * 10000) // (da.deg + dc.deg - inter)
                   AS BIGINT) AS jac_bp,
                 CAST(CASE WHEN u.src IS NULL THEN 0 ELSE 1 END AS BIGINT)
                   AS is_edge
          FROM inter
          JOIN deg da ON inter.a = da.src
          JOIN deg dc ON inter.c = dc.src
          LEFT JOIN und u ON u.src = inter.a AND u.dst = inter.c
          ORDER BY a, c""",

    "graph_adamic_adar" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ed AS (SELECT src, dst FROM e WHERE src <> dst),
          und AS (SELECT DISTINCT * FROM (SELECT src, dst FROM ed
                                          UNION ALL SELECT dst, src
                                          FROM ed)),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM und GROUP BY src),
          hop AS (SELECT x.src AS a, y.dst AS c, x.dst AS b
                  FROM und x JOIN und y ON x.dst = y.src
                  WHERE x.src < y.dst),
          terms AS (SELECT a, c,
                      CAST(floor(1000000000.0 / ln(deg::DOUBLE) + 0.5)
                        AS BIGINT) AS term_n
                    FROM hop JOIN deg ON hop.b = deg.src),
          agg AS (SELECT a, c, CAST(count(*) AS BIGINT) AS inter,
                    CAST(sum(term_n) AS BIGINT) AS aa_n
                  FROM terms GROUP BY 1, 2)
          SELECT a, c, inter, aa_n,
                 CAST(CASE WHEN u.src IS NULL THEN 0 ELSE 1 END AS BIGINT)
                   AS is_edge
          FROM agg
          LEFT JOIN und u ON u.src = agg.a AND u.dst = agg.c
          ORDER BY a, c""",

    "graph_bfs_hops" ->
      s"""WITH RECURSIVE e0 AS ($edgesSql),
          $strongSql,
          und AS (SELECT src AS a, dst AS b FROM e
                  UNION SELECT dst, src FROM e),
          walk AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT)
                            AS lvl
                   UNION
                   SELECT u.b, walk.lvl + 1
                   FROM walk JOIN und u ON u.a = walk.node
                   WHERE walk.lvl < 24)
          SELECT node, CAST(min(lvl) AS BIGINT) AS hops
          FROM walk GROUP BY node ORDER BY node""",

    "graph_reciprocity" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ed AS (SELECT src, dst FROM e WHERE src <> dst),
          st2 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed),
          rc AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
                 FROM ed a WHERE EXISTS (SELECT 1 FROM ed b
                   WHERE b.src = a.dst AND b.dst = a.src))
          SELECT n_edges, n_reciprocal,
                 round(CAST(n_reciprocal AS DOUBLE) / n_edges, 4)
                   AS reciprocity
          FROM st2, rc ORDER BY n_edges""",

    "graph_components" ->
      s"""WITH RECURSIVE e0 AS ($edgesSql),
          $strongSql,
          und AS (SELECT src AS a, dst AS b FROM e
                  UNION SELECT dst, src FROM e),
          reach AS (SELECT a, b FROM und
                    UNION SELECT DISTINCT a, a FROM und
                    UNION
                    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          cc AS (SELECT a AS node, min(b) AS component
                 FROM reach GROUP BY a)
          SELECT node, component FROM cc ORDER BY node""",

    "graph_assortativity" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ce AS (SELECT DISTINCT least(src, dst) AS u,
                        greatest(src, dst) AS w
                 FROM e WHERE src <> dst),
          bo AS (SELECT u, w FROM ce UNION ALL SELECT w, u FROM ce),
          deg AS (SELECT u AS node, count(*) AS deg FROM bo GROUP BY 1),
          p AS (SELECT du.deg AS deg_u, dw.deg AS deg_w
                FROM bo JOIN deg du ON bo.u = du.node
                        JOIN deg dw ON bo.w = dw.node)
          SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
                 round(corr(deg_u::DOUBLE, deg_w::DOUBLE), 4)
                   AS assortativity
          FROM p""",

    "graph_lpa_communities" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          und AS (SELECT DISTINCT a, b FROM (
                    SELECT src AS a, dst AS b FROM e WHERE src <> dst
                    UNION ALL
                    SELECT dst, src FROM e WHERE src <> dst) u0),
          l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
          $lpaSteps
          SELECT node, label AS community FROM l$LpaRounds
          ORDER BY node""",

    "graph_triangles" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
                 FROM e WHERE src <> dst)
          SELECT e1.u AS a, e1.w AS b, e2.w AS c
          FROM ce e1
          JOIN ce e2 ON e2.u = e1.w
          JOIN ce e3 ON e3.u = e1.u AND e3.w = e2.w
          ORDER BY a, b, c""",

    "graph_modularity" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          und AS (SELECT DISTINCT least(src, dst) AS u,
                         greatest(src, dst) AS w
                  FROM e WHERE src <> dst),
          m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
          deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                  FROM (SELECT u AS node FROM und
                        UNION ALL SELECT w FROM und)
                  GROUP BY node),
          nr AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
                        CAST(n_regionkey AS BIGINT) AS region
                 FROM nation),
          dr AS (SELECT region, CAST(sum(deg) AS BIGINT) AS d_r
                 FROM deg JOIN nr USING (node) GROUP BY region),
          wr AS (SELECT a.region, CAST(count(*) AS BIGINT) AS e_r
                 FROM und JOIN nr a ON und.u = a.node
                          JOIN nr b ON und.w = b.node
                 WHERE a.region = b.region GROUP BY a.region)
          SELECT dr.region, m.m,
                 CAST(coalesce(wr.e_r, 0) AS BIGINT) AS e_r, dr.d_r,
                 CAST(4 * m.m * coalesce(wr.e_r, 0) - dr.d_r * dr.d_r
                   AS BIGINT) AS contrib_scaled
          FROM dr LEFT JOIN wr ON dr.region = wr.region, m
          ORDER BY dr.region""",

    "graph_clustering_coeff" ->
      s"""WITH e0 AS ($edgesSql),
          $strongSql,
          ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
                 FROM e WHERE src <> dst),
          deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                  FROM (SELECT u AS node FROM ce
                        UNION ALL SELECT w FROM ce)
                  GROUP BY node),
          tr AS (SELECT e1.u AS a, e1.w AS b, e2.w AS c
                 FROM ce e1
                 JOIN ce e2 ON e2.u = e1.w
                 JOIN ce e3 ON e3.u = e1.u AND e3.w = e2.w),
          tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
                 FROM (SELECT a AS node FROM tr
                       UNION ALL SELECT b FROM tr
                       UNION ALL SELECT c FROM tr)
                 GROUP BY node)
          SELECT deg.node, deg.deg,
                 CAST(coalesce(tc.tri, 0) AS BIGINT) AS tri,
                 CAST((2 * coalesce(tc.tri, 0) * 10000)
                   // (deg.deg * (deg.deg - 1)) AS BIGINT) AS cc_bp
          FROM deg LEFT JOIN tc ON deg.node = tc.node
          WHERE deg.deg >= 2
          ORDER BY deg.node""",
  )
}
