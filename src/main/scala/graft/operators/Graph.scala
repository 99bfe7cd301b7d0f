package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage

/** Graph operators over an edge-list relation — the reference's twitter
  * app processes a follower graph as bare edge lines (reference
  * `server/twitter.go:59-67`, "forms a directed graph" per cs425_mp4.pdf
  * §3.3) but only ever counts followees; these operators add the two
  * graph reductions a data platform actually runs on such an edge list:
  * degree statistics and PageRank centrality.
  *
  * Everything shuffles (node, value) pairs keyed by node id — never
  * adjacency lists, never whole neighborhoods — so partition count, not
  * graph size, bounds task memory. Connected components live in
  * [[Dedup.components]] (same label-propagation family).
  */
object Graph {

  /** Per-node degree summary: (node, out_deg, in_deg), total order by
    * node. Two partial-aggregated counts merged with a full outer join —
    * shuffle volume is one (node, count) pair per node per side.
    *
    * Multi-edge semantics: by default every input row counts (a node
    * with three parallel edges to the same neighbor has out_deg 3 —
    * degree-as-edge-count, what a weighted edge list means); pass
    * `distinctEdges = true` for neighbor-count degrees on the simple
    * graph — the SAME edge relation [[pagerankInt]] always runs on. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String,
              distinctEdges: Boolean = false): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (distinctEdges) e0.distinct() else e0
    val outD = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val inD = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    outD.join(inD, Seq("node"), "full_outer")
      .na.fill(0L, Seq("out_deg", "in_deg"))
      .orderBy("node")
  }

  /** PageRank in FIXED-POINT INTEGER arithmetic: ranks are held in
    * micro-units (1e6 = initial rank 1.0) and every step is integer
    * division — `contrib = rank DIV out_deg`, `rank' = base +
    * (dampBp * Σcontrib) DIV 10000` — so the result is bit-identical on
    * any engine and any partitioning. Float PageRank sums neighbor
    * contributions in nondeterministic order; the usual "round at the
    * end" fix still flips hash compares when a sum lands within an ulp of
    * a rounding boundary, while integer ranks cannot drift at all (the
    * same trick as the jac_bp basis points in [[Dedup]]).
    *
    * Semantics: the simplified damped model (Page et al. 1998) on the
    * distinct edge relation — parallel edges collapse to one (the same
    * simple graph as [[degrees]] with `distinctEdges = true`; use edge
    * multiplicity only via [[degrees]]' default mode). Dangling nodes
    * (out_deg 0) leak their damped mass, and DIV truncation sheds up to
    * out_deg-1 micro-units per node per round — both deterministic, both
    * standard for the centrality-RANKING use (relative order is what
    * dedup/curation pipelines consume, not the stationary distribution).
    *
    * Overflow: the damping step reduces csum by 10000 BEFORE multiplying
    * by dampBp (the two forms are bit-identical for non-negative csum:
    * with csum = q*10000 + r, `dampBp*csum DIV 10000` = `dampBp*q +
    * (dampBp*r) DIV 10000`), so the intermediate stays within ~csum
    * instead of 10000x it — safe to ~9e12 total graph mass (~9e12 nodes)
    * rather than ~9e8, and non-ANSI Long wrap cannot silently corrupt
    * ranks at the scales this module advertises.
    *
    * Scale shape: the edge relation is cut once ([[Lineage.cut]]) and
    * reused every round; each round shuffles only
    * (node, long) pairs — join edges→ranks on src (partial-agg sum per
    * dst), then a left join back onto the node set. Rounds are a fixed
    * `iters` (deterministic plan, replayable oracle), not
    * convergence-checked; 5-10 reaches stable ORDER on real graphs.
    * Output: (node, rank) in micro-units, total order by node.
    *
    * `redistributeDangling = true` switches to the mass-conserving
    * variant: each round, the summed rank of dangling nodes is split
    * evenly (dsum DIV n_nodes, still integer-exact — the DIV remainder
    * < n_nodes micro-units is shed deterministically) and added to every
    * node's incoming contribution before damping. The dangling sum and
    * node count arrive as broadcast one-row aggregates, so the per-round
    * shuffle shape is unchanged. */
  def pagerankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, dampBp: Int = 8500,
                  redistributeDangling: Boolean = false,
                  seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(dampBp >= 0 && dampBp <= 10000, s"dampBp out of range: $dampBp")
    require(seeds.isEmpty || !redistributeDangling,
      "personalized + dangling redistribution is not defined here " +
        "(dangling mass in PPR returns to the seeds, a different model)")
    val scale = 1000000L
    val base = scale * (10000 - dampBp) / 10000
    val e = Lineage.cut(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")).distinct())
    val outD = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val withDeg = Lineage.cut(e.join(outD, "src"))
    val nodesBase = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // is_seed gates where restart mass lands: all nodes in the classic
    // model, only the seed set in the personalized one — with is_seed=1
    // everywhere the personalized arithmetic reduces bit-for-bit to the
    // classic form, so both models share this one implementation
    val nodes = Lineage.cut(seeds match {
      case None => nodesBase.withColumn("is_seed", lit(1L))
      case Some(sd) => nodesBase
        .join(sd.select(col(sd.columns.head).as("node")).distinct()
          .withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    })
    val nNodes = nodes.agg(count(lit(1)).as("nn"))
    // the damping reduction, overflow-safe (see Overflow above), over an
    // arbitrary non-negative integer column expression
    def damped(csumTot: String) =
      expr(s"is_seed * $base") + expr(s"(($csumTot) DIV 10000) * $dampBp" +
        s" + ((($csumTot) % 10000) * $dampBp) DIV 10000")
    val rank0 = nodes.select(col("node"), col("is_seed"),
      (col("is_seed") * scale).as("rank"))
    val rankN = Lineage.rounds(rank0, iters) { (rank, _) =>
      val contrib = withDeg
        .join(rank.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"),
          expr("rank DIV out_deg").as("c"))
        .groupBy("node").agg(sum("c").as("csum"))
      val joined = nodes.join(contrib, Seq("node"), "left")
      if (!redistributeDangling) {
        joined.select(col("node"), col("is_seed"),
          damped("coalesce(csum, CAST(0 AS BIGINT))").as("rank"))
      } else {
        val dang = rank
          .join(outD.select(col("src").as("node")), Seq("node"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0L)).as("dsum"))
        joined.crossJoin(broadcast(dang)).crossJoin(broadcast(nNodes))
          .select(col("node"), col("is_seed"),
            damped("coalesce(csum, CAST(0 AS BIGINT)) + dsum DIV nn")
              .as("rank"))
      }
    }
    rankN.select("node", "rank").orderBy("node")
  }

  /** Personalized PageRank (random walk with restart): identical integer
    * fixed-point mechanics to [[pagerankInt]], except the restart mass
    * lands ONLY on the seed set — rank r_k(v) = isSeed(v)*base +
    * damp(Σ inflow) — and ranks start at `scale` on seeds, 0 elsewhere.
    * The result ranks nodes by proximity to the seeds (the
    * "expand-a-cluster-from-examples" primitive for graph-based data
    * curation). Non-conserving like the default pagerankInt (mass
    * leaking through dangling nodes decays the total; relative order is
    * what PPR consumes). Same overflow bounds and per-round shuffle
    * shape as pagerankInt; seeds arrive as an arbitrary (node) relation
    * and are intersected with the graph's nodes. */
  def personalizedPagerankInt(edges: DataFrame, srcCol: String,
                              dstCol: String, seeds: DataFrame,
                              iters: Int, dampBp: Int = 8500): DataFrame =
    pagerankInt(edges, srcCol, dstCol, iters, dampBp,
      redistributeDangling = false, seeds = Some(seeds))

  /** Triangle enumeration on the undirected simple graph induced by the
    * edge list (direction, parallel edges, and self-loops are dropped).
    * Returns one row per triangle as (a, b, c) with a < b < c by node id,
    * total order by (a, b, c).
    *
    * Scale shape: edges are oriented low→high by (degree, id) and wedges
    * are built only at each triangle's unique (degree, id)-minimum apex —
    * the standard degree-orientation bound (Schank & Wagner 2005): a
    * vertex's oriented out-degree is O(√m) on any graph, so wedge count is
    * O(m^1.5) worst case instead of Σdeg² (a single hub with degree 10⁶
    * would otherwise generate 10¹² wedges on one reducer). The closing
    * check is a hash equi-join of wedges against the canonical edge set —
    * every shuffle carries (id, id) pairs only. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("w"))
      .distinct()
    val deg = und.select(explode(array(col("u"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint; u < w already,
    // so a degree tie keeps u as the tail
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .select(
        when(col("du") <= col("dw"), col("u")).otherwise(col("w")).as("lo"),
        when(col("du") <= col("dw"), col("w")).otherwise(col("u")).as("hi"))
    val wedges = oriented.select(col("lo").as("apex"), col("hi").as("b"))
      .join(oriented.select(col("lo").as("apex"), col("hi").as("c")), "apex")
      .filter(col("b") < col("c"))
    wedges.join(und, wedges("b") === und("u") && wedges("c") === und("w"))
      .select(array_sort(array(col("apex"), col("b"), col("c"))).as("t"))
      .select(element_at(col("t"), 1).as("a"),
        element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
      .orderBy("a", "b", "c")
  }

  private def longEdges(edges: DataFrame, srcCol: String, dstCol: String) =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))

  /** Single-source shortest hop distances over the UNDIRECTED distinct
    * edge relation: (id, hops) for `source` itself at hop 0 — always,
    * even when `source` has no edge or is not in the graph at all — and
    * every other node reachable from it (unreachable nodes are absent).
    * Frontier BFS — each round joins only the NEW frontier against the
    * edge list and anti-joins the visited set, so total work is
    * O(edges × diameter-rounds) and every shuffle carries (id, hops)
    * pairs; the visited set is node-sized, the same state bound label
    * propagation carries. BFS frontier distances are
    * final the first time a node is seen (hop counts are unit weights),
    * so no relabeling round is needed — the loop ends when the frontier
    * empties or `maxHops` is hit (loud failure, mirroring
    * [[Dedup.components]]'s non-convergence guard). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              source: Long, maxHops: Int = 20): DataFrame = {
    val p = Lineage.cut(longEdges(edges, srcCol, dstCol).distinct())
    val und = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    // visited set (id, hops, fresh); `fresh` marks the last round's finds
    val start = p.sparkSession.range(1)
      .select(lit(source).as("id"), lit(0L).as("hops"), lit(true).as("fresh"))
    val labels = Lineage.untilStable(start, maxHops) { labels =>
      val next = und
        .join(labels.filter(col("fresh"))
          .select(col("id").as("src"), col("hops")), "src")
        .select(col("dst").as("id"), (col("hops") + 1L).as("hops"))
        .join(labels.select("id"), Seq("id"), "left_anti")
        .groupBy("id").agg(min("hops").as("hops"))
      labels.select(col("id"), col("hops"), lit(false).as("fresh"))
        .union(next.withColumn("fresh", lit(true)))
    }((_, next) => next.filter(col("fresh"))).getOrElse(
      throw new IllegalStateException(
        s"bfsHops did not drain in $maxHops rounds — raise maxHops " +
          "(graph diameter exceeds it)"))
    labels.select("id", "hops").orderBy("id")
  }

  /** k-core: the maximal subgraph where every node keeps degree >= k,
    * found by iterative peeling — drop all nodes below k, recompute
    * degrees on the survivor-induced subgraph, repeat. Runs a FIXED
    * `rounds` count rather than testing convergence, so an oracle can
    * replay the exact same unrolled iteration (peeling is monotone:
    * once stable, extra rounds are no-ops, and both engines run the
    * same count either way). Input is symmetrized + deduped here, so
    * degree is a plain per-src count. Each round is two semi-joins on
    * the shrinking edge relation — edges only ever leave, so per-round
    * cost falls; rounds are cut by [[Lineage.rounds]]. Returns (node,
    * deg) for core members, deg being the within-core degree. */
  def kcoreFixed(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int): DataFrame = {
    val p = longEdges(edges, srcCol, dstCol)
    val und = Lineage.cut(p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val core = Lineage.rounds(und, rounds) { (e, _) =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
    }
    core.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .orderBy("node")
  }

  /** Label-propagation community detection (Raghavan et al. 2007),
    * SYNCHRONOUS fixed-round variant: every node starts labeled with its
    * own id; each round it adopts the most frequent label among its
    * undirected neighbors, ties broken toward the SMALLER label. The
    * synchronous schedule + deterministic tie-break makes the result a
    * pure function of the graph (the async/random-order variant that
    * converges faster is not engine-replayable), at the cost that
    * bipartite-ish structures may oscillate — a fixed round count
    * reports whatever the schedule reached, which is exactly what an
    * oracle can replay by unrolling rounds.
    *
    * Scale shape: each round is one (node, label) hash join onto the
    * undirected edge relation, a (node, label) count aggregate with
    * map-side combine, and an argmax window PARTITIONED BY NODE — no
    * global window, no driver collect; rounds cut by [[Lineage.rounds]].
    *
    * Returns (node, community) ordered by node. */
  def lpaFixed(edges: DataFrame, srcCol: String, dstCol: String,
               rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val p = longEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst"))
    val und = Lineage.cut(p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src").as("a"), col("dst").as("b"))
      .distinct())
    val labels0 = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val labels = Lineage.rounds(labels0, rounds) { (labels, _) =>
      val byNeighbor = und
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("a")
        .orderBy(col("c").desc, col("label"))
      byNeighbor
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("a").as("node"), col("label"))
    }
    labels.select(col("node"), col("label").as("community"))
      .orderBy("node")
  }

  /** HITS hubs-and-authorities (Kleinberg 1999), integer fixed point:
    * each round sums hub scores into authorities over in-edges, then
    * authority scores into hubs over out-edges, L1-renormalizing both to
    * one million micro-units with truncating integer division — the same
    * engine-portable arithmetic as [[pagerankInt]], so an oracle can
    * unroll the rounds and hash-match bit-for-bit (float HITS never
    * could). Nodes without in-edges hold authority 0, without out-edges
    * hub 0.
    *
    * Scale shape: per round two (id, long) hash joins edge→score and two
    * one-row global sums broadcast back — the score relation, never edge
    * payloads, crosses the shuffle.
    * Overflow-safe: post-normalization scores sum to ≤ 1e6, so a raw sum
    * is ≤ 1e6 and raw*1e6 ≤ 1e12 (round 1: ≤ n*1e6*1e6, fine below
    * ~9e6 nodes; larger graphs would scale down the seed).
    *
    * Returns (node, hub, auth) ordered by node. */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val scale = 1000000L
    val e = Lineage.cut(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")).distinct())
    val nodes = Lineage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // scores flow along the edges `from` -> `to`, then L1-renormalize
    def flow(scores: DataFrame, from: String, to: String): DataFrame = {
      val raw = e.join(scores.select(col("node").as(from), col("rank")), from)
        .groupBy(col(to).as("node")).agg(sum("rank").as("raw"))
      val s = raw.agg(sum("raw").as("s"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(s))
        .select(col("node"),
          expr(s"(coalesce(raw, CAST(0 AS BIGINT)) * $scale) DIV s")
            .as("rank"))
    }
    def authOf(hub: DataFrame) = Lineage.cut(flow(hub, "src", "dst"))
    // every score relation is cut; the rounds carry the hub scores and
    // the last round is unrolled to keep its authorities
    val hubPrev = Lineage.rounds(nodes.withColumn("rank", lit(scale)),
      iters - 1)((hub, _) => flow(authOf(hub), "dst", "src"))
    val auth = authOf(hubPrev)
    Lineage.cut(flow(auth, "dst", "src"))
      .select(col("node"), col("rank").as("hub"))
      .join(auth.select(col("node"), col("rank").as("auth")), "node")
      .orderBy("node")
  }
}
