package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Lineage
import graft.functions.{HashExprs, TextFunctions => TF}

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - bruteForceTopK: exact baseline — broadcast the (small) query set
  *    against the candidate table; one pass, no shuffle of candidates.
  *  - lshTopK: random-hyperplane LSH (Charikar 2002) — candidates are
  *    bucketed by sign-bit signature, queries probe only their own bucket
  *    per hash table. The 100 TB path: each query touches
  *    O(tables × bucket size) candidates instead of all of them.
  *  - ivfTopK: inverted-file index — k-means coarse quantizer (trained on a
  *    driver-side sample, deterministic seed), candidates searched only in
  *    the nprobe nearest cells. Same structure as FAISS IVF-Flat.
  *
  * Ranking is deterministic: (similarity desc, candidate id asc).
  */
object Ann {

  /** Spread a narrow input before CPU-heavy per-row work (one file = one
    * partition would serialize signature/assignment compute onto a single
    * core; no-op once inputs have enough partitions). */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Exact k-nearest-neighbor GRAPH over the whole corpus — every vector's
    * top-k cosine neighbors, the construction SemDeDup-style clustering,
    * graph-based dedup, and kNN-classification pipelines start from.
    *
    * Execution shape: pair generation is [[Dedup.blockPairSims]] (each
    * unordered pair computed in exactly one task, shuffle n·B rows), each
    * pair fans out to its two directed ends in the SAME task, and the
    * per-node reduction is the k-bounded [[graft.functions
    * .TopKAgg.topk_longs]] partial aggregate — at most k
    * entries per (node, map partition) cross the aggregation shuffle,
    * never the n² similarity relation. Compute is inherently Ω(n²) (this
    * is the exact baseline; the scale path is LSH/IVF candidates into
    * the same top-k reduction), but memory and shuffle stay linear.
    *
    * Similarities rank in basis points (round(sim·10000), integer) so
    * the ordering replays exactly in any engine; ties resolve to the
    * smaller neighbor id. Output: (vec_id, rank 1..k, sim_bp,
    * neighbor_id), in total order. */
  def knnGraph(embs: DataFrame, idCol: String, vecCol: String, k: Int,
               blocks: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = Dedup.blockPairSims(embs, idCol, vecCol, blocks)
      .select(col("id_a"), col("id_b"),
        round(col("sim") * 10000).cast("long").as("sim_bp"))
    mirroredTopK(pairs, k)
  }

  /** The shared kNN-graph reduction: mirror each undirected scored pair
    * into its two directed ends IN THE SAME TASK (a union of two
    * selects would recompute the candidate-pair relation twice), then
    * reduce each source to its k best neighbors with the k-bounded
    * [[graft.functions.TopKAgg.topk_longs]] partial
    * aggregate — at most k entries per (node, map partition) cross the
    * aggregation shuffle, never the pair relation itself. */
  private def mirroredTopK(pairs: DataFrame, k: Int): DataFrame = {
    val dir = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("sim_bp"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("sim_bp"), col("id_a").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.sim_bp").as("sim_bp"),
        col("e.dst").as("dst"))
    dir.groupBy("src")
      .agg(graft.functions.TopKAgg
        .topk_longs(col("sim_bp"), col("dst"), k).as("nn"))
      .select(col("src"), posexplode(col("nn")))
      .select(col("src").as("vec_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("sim_bp"), col("col._2").as("neighbor_id"))
      .orderBy("vec_id", "rank")
  }

  /** Approximate kNN graph — [[knnGraph]]'s 100 TB path: candidate pairs
    * come from sign-bit LSH bucket co-occurrence (any of `tables`
    * independent bucketings) instead of the exact n² relation, then flow
    * through the SAME mirrored top-k reduction. Compute drops from n² to
    * Σ bucket², shuffle stays linear; recall is what the banding
    * sacrifices (spec-bounded against the exact graph — rows-only for
    * the driver, the hyperplanes are engine-internal).
    *
    * Shape notes: the bucket self-join carries only (id, tbl, bucket) —
    * ids meet their co-bucketed partners, the pair list dedups across
    * tables BEFORE any vector is touched, and vectors join back onto the
    * deduped pairs by id (two hash joins shuffling n vectors once each,
    * the verifyJaccard pattern — never vectors replicated per bucket
    * collision). Output shape matches [[knnGraph]] exactly, except a
    * node with no co-bucketed partner is absent (its candidate set is
    * empty) and a node may carry fewer than k rows. */
  def knnGraphLsh(embs: DataFrame, idCol: String, vecCol: String, k: Int,
                  bits: Int = 4, tables: Int = 16, dim: Int = -1,
                  seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val pairs = lshCandidatePairs(v, bits, tables, dim, seed)
      .select(col("id_a"), col("id_b"),
        round(HashExprs.cosine_sim(col("va"), col("vb")) * 10000)
          .cast("long").as("sim_bp"))
    mirroredTopK(pairs, k)
  }

  /** [[knnGraphLsh]]'s deterministic twin and the DEFAULT registered
    * kNN-graph path: identical Σ bucket² candidate structure and
    * mirrored top-k reduction, but the hyperplanes are md5-Rademacher —
    * the per-(table, plane, dim) sign is one md5 bit and dot products
    * run in integer micro-units (floor(x·1e6 + 0.5)), so bucket
    * membership is exact integer arithmetic ANY engine replays. That
    * makes the scale-shaped graph hash-checkable against SQL — the
    * property the seeded Gaussian variant gives up (its planes live
    * only in this JVM). Determinism costs nothing statistically:
    * sign-of-dot with Rademacher directions is a valid random-
    * hyperplane family (Charikar 2002 needs only symmetric random
    * directions), and md5 bits are as good as a seeded PRNG. */
  def knnGraphLshDet(embs: DataFrame, idCol: String, vecCol: String,
                     k: Int, bits: Int, tables: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val pairs = lshDetPairSims(v, bits, tables)
      .select(col("id_a"), col("id_b"),
        round(col("sim") * 10000).cast("long").as("sim_bp"))
    mirroredTopK(pairs, k)
  }

  /** Per-(vector, table) det-LSH bucket assignment over (id, v):
    * md5-Rademacher sign planes on integer micro-unit coordinates (see
    * [[knnGraphLshDet]]), computed by the codegen'd
    * [[HashExprs.detLshBucketsKernel]] in ONE pass per row — nothing
    * but (id, table, bucket) ever crosses a shuffle (the first-cut
    * relational form exploded docs×dims×planes rows through two
    * aggregations; the kernel is bit-identical — integer addition is
    * order-free and the signs are the same md5 bits the oracle SQL
    * recomputes — at none of that cost). Empty vectors are dropped to
    * match the relational/SQL replay, whose explode yields them no
    * rows. Returns (id, t, bucket). */
  private[operators] def lshDetBuckets(v: DataFrame, bits: Int,
                                       tables: Int): DataFrame =
    v.filter(size(col("v")) > 0)
      .select(col("id"),
        posexplode(HashExprs.det_lsh_buckets(col("v"), bits, tables))
          .as(Seq("t", "bucket")))

  /** [[Dedup.embeddingCosinePairs]]' 100 TB default path: threshold
    * cosine pairs over DETERMINISTIC LSH candidates (md5-Rademacher
    * planes — see [[knnGraphLshDet]]) instead of the exact all-pairs
    * block scheme. Compute drops from Ω(n²) to Σ bucket², shuffle stays
    * linear in n·tables, and determinism makes the whole relation —
    * buckets, candidates, sims — replayable in SQL, so the registered
    * form hash-checks. Emitted sims are true cosines (the relation is a
    * SUBSET of the exact one); recall below ~0.9-sim thresholds is < 1
    * by the sign-plane agreement bound ([[Dedup.embeddingCosinePairs]]'
    * scaladoc) — keep the exact form as the eval oracle, this as the
    * default, mirroring the kNN-graph role split. */
  def cosinePairsLshDet(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bits: Int,
                        tables: Int = 16): DataFrame = {
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    lshDetPairSims(v, bits, tables)
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Deterministic-LSH candidate pairs WITH their cosines —
    * (id_a < id_b, sim), each pair once. The cosine is computed INSIDE
    * the bucket self-join (vectors ride the n·tables bucket rows) and
    * duplicates across tables collapse in a 24-byte-per-row (long,
    * long, double) aggregation — first() is exact because every table
    * collision computes the identical double.
    *
    * Why not dedup pairs first and join vectors back (the previous
    * shape): the second-decade scale ladder measured it spilling
    * unboundedly — the pair←vector join-back shuffles the FULL
    * candidate-pair relation with both vectors attached (~1 KB/row; at
    * 200k×64d that is ~300 GB of shuffle and it filled the bench
    * host's disk), while this shape's only wide shuffle is the bucket
    * relation itself (n·tables rows, one vector each) and the pair
    * shuffle carries 24-byte triplets — ~20× less I/O for at most
    * `tables`× redundant cosine evals, which are embarrassingly
    * parallel CPU inside whole-stage codegen. Same output, same
    * oracles. */
  private def lshDetPairSims(v: DataFrame, bits: Int,
                             tables: Int): DataFrame = {
    // buckets carry the vector from the same one-pass kernel projection
    // (no join-back): n·tables rows, one vector each. Cut because the
    // broadcast self-join cannot reuse one exchange for both sides
    // (min of 4: margin_bitext_lsh 3.34 → 3.18, media_near_dup_det
    // 1.46 → 1.18, dedup_embedding_cosine 1.07 → 0.98 s).
    val buckets = Lineage.cut(v.filter(size(col("v")) > 0)
      .select(col("id"), col("v"),
        posexplode(HashExprs.det_lsh_buckets(col("v"), bits, tables))
          .as(Seq("t", "bucket"))))
    buckets.as("a").join(buckets.as("b"), Seq("t", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        HashExprs.cosine_sim(col("a.v"), col("b.v")).as("sim"))
      .groupBy("id_a", "id_b").agg(first("sim").as("sim"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * the mining rule behind CCMatrix-style parallel-corpus extraction):
    * a cross-cohort pair's score is the RATIO margin between its cosine
    * and the mean cosine of each side's k nearest neighbors in the
    * OTHER cohort; the mined pairs are the mutual best-margin matches.
    * Raw cosine alone over-selects hub vectors — the margin divides the
    * hubness out, which is why this beats absolute-threshold mining.
    *
    * Exactness: similarities snap to integer basis points, each
    * denominator is an integer sum of k of them, and the score is one
    * truncating division over operands kept non-negative by the
    * sim_bp > 0 / den > 0 guards — so the whole relation replays
    * bit-for-bit in any engine. Scale: the |A| x |B| pair relation here
    * is the spec-oracle baseline (A is the broadcast side); at 100 TB
    * candidates come from the same sign-bit bucketing as [[knnGraphLsh]]
    * — margin scoring composes with any candidate generator because it
    * only needs each side's top-k denominator, also computable from the
    * bucketed candidate set.
    *
    * a: (a_id, va); b: (b_id, vb). Output: mutual pairs
    * (a_id, b_id, sim_bp, margin_bp), one row per mined a_id. */
  def marginBitext(a: DataFrame, b: DataFrame, k: Int = 4): DataFrame =
    marginScore(broadcast(a).crossJoin(spread(b))
      .select(col("a_id"), col("b_id"),
        round(HashExprs.cosine_sim(col("va"), col("vb")) * 10000)
          .cast("long").as("sim_bp")), k)

  /** [[marginBitext]]'s 100 TB path: cross-cohort candidate pairs come
    * from the deterministic LSH bucketing of the UNION of the two
    * cohorts (md5-Rademacher planes — see [[knnGraphLshDet]]) instead
    * of the |A|×|B| kernel, then flow through the SAME mutual
    * best-margin scoring. Compute drops from |A|·|B| to Σ bucket²,
    * shuffle stays linear; the margin denominators become each side's
    * top-k among CANDIDATES (a planted near-duplicate pair collides in
    * some table with high probability, so mined pairs survive —
    * spec-bounded vs the exact miner). Determinism keeps the whole
    * relation engine-replayable, so the registered form hash-checks.
    * Cohort ids must be disjoint (the registered query splits by
    * vec_id parity). */
  def marginBitextLshDet(a: DataFrame, b: DataFrame, k: Int = 4,
                         bits: Int = 1, tables: Int = 16): DataFrame = {
    val u = spread(a.select(col("a_id").as("id"),
        col("va").cast("array<double>").as("v"))
      .unionByName(b.select(col("b_id").as("id"),
        col("vb").cast("array<double>").as("v"))))
    val sides = a.select(col("a_id").as("id"), lit(true).as("is_a"))
      .unionByName(b.select(col("b_id").as("id"), lit(false).as("is_a")))
    // orientation only swaps ids (cosine is symmetric); within-cohort
    // collisions drop after the 24-byte pair-sim relation, never paying
    // a vector shuffle
    val pairs = lshDetPairSims(u, bits, tables)
      .join(sides.select(col("id").as("id_a"), col("is_a").as("a_is_a")),
        "id_a")
      .join(sides.select(col("id").as("id_b"), col("is_a").as("b_is_a")),
        "id_b")
      .filter(col("a_is_a") =!= col("b_is_a"))
      .select(
        when(col("a_is_a"), col("id_a")).otherwise(col("id_b")).as("a_id"),
        when(col("a_is_a"), col("id_b")).otherwise(col("id_a")).as("b_id"),
        round(col("sim") * 10000).cast("long").as("sim_bp"))
    marginScore(pairs, k)
  }

  /** The shared mutual best-margin reduction over a scored cross-cohort
    * pair relation (a_id, b_id, sim_bp): per-side top-k denominators,
    * ratio margin as one truncating integer division, mutual rank-1
    * filter. */
  private def marginScore(pairsIn: DataFrame, k: Int): DataFrame = {
    // three consumers (denA, denB, scored) read the candidate pairs
    val pairs = Lineage.cut(pairsIn)
    val wa = Window.partitionBy("a_id")
      .orderBy(col("sim_bp").desc, col("b_id"))
    val wb = Window.partitionBy("b_id")
      .orderBy(col("sim_bp").desc, col("a_id"))
    val ranked = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
    val denA = ranked.filter(col("ra") <= k).groupBy("a_id")
      .agg(sum("sim_bp").as("den_a"))
    val denB = ranked.filter(col("rb") <= k).groupBy("b_id")
      .agg(sum("sim_bp").as("den_b"))
    // margin = sim / ((den_a/k + den_b/k) / 2) in basis points, as one
    // integer division: (sim_bp * 2k * 10000) DIV (den_a + den_b)
    val scored = pairs
      .join(broadcast(denA), "a_id").join(broadcast(denB), "b_id")
      .filter(col("sim_bp") > 0 && col("den_a") + col("den_b") > 0)
      .withColumn("margin_bp",
        expr(s"(sim_bp * ${2L * k * 10000L}) DIV (den_a + den_b)"))
    scored
      .withColumn("rka", row_number().over(Window.partitionBy("a_id")
        .orderBy(col("margin_bp").desc, col("b_id"))))
      .withColumn("rkb", row_number().over(Window.partitionBy("b_id")
        .orderBy(col("margin_bp").desc, col("a_id"))))
      .filter(col("rka") === 1 && col("rkb") === 1)
      .select("a_id", "b_id", "sim_bp", "margin_bp")
      .orderBy("a_id")
  }

  /** The shared LSH candidate mechanics (see [[knnGraphLsh]]'s shape
    * notes): per-table sign-bit buckets on (id, tbl, bucket) only, pair
    * dedup across tables BEFORE vectors are touched, vectors joined
    * back by id. Returns (id_a, id_b, va, vb) with id_a < id_b. */
  private def lshCandidatePairs(v: DataFrame, bits: Int, tables: Int,
                                dim: Int, seed: Long): DataFrame = {
    val d = if (dim > 0) dim
            else v.select(size(col("v"))).head(1) match {
              case Array(r) => r.getInt(0)
              case _ => 1
            }
    val tablePlanes = (0 until tables).map(t => planes(bits, d, seed + t))
    val idx = v.select(col("id"), explode(concat(
        tablePlanes.zipWithIndex.map { case (ps, t) =>
          array(struct(lit(t).as("tbl"), bucketExpr(col("v"), ps).as("bucket")))
        }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    idx.as("a").join(idx.as("b"), Seq("tbl", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .join(v.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
  }

  /** LSH-bucketed >= threshold cosine pair relation —
    * [[Dedup.embeddingCosinePairs]]' output shape from hyperplane-bucket
    * candidates instead of all block pairs: the 100 TB near-dup path for
    * dense feature vectors (the media dedup pass). Emitted sims are TRUE
    * cosines (exact verify on candidates), so the relation is a SUBSET
    * of the exact pair relation with per-pair recall
    * ≈ 1-(1-p^bits)^tables; byte-identical vectors land in the same
    * bucket of EVERY table, so exact duplicates are never missed. */
  def cosinePairsLsh(embs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bits: Int = 4, tables: Int = 16,
                     seed: Long = 42L): DataFrame = {
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    lshCandidatePairs(v, bits, tables, dim = -1, seed)
      .select(col("id_a"), col("id_b"),
        HashExprs.cosine_sim(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Deterministic pseudo-random unit-less hyperplanes (seeded; no RNG at
    * execution time — the plan is reproducible across runs/resumes). */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH signature as an int bucket id per hash table: one
    * codegen'd kernel pass over the vector (HashExprs.HyperplaneBucket)
    * — bit-identical to the former per-plane aggregate(zip_with(...))
    * chain, at bits x fewer array traversals and zero lambda dispatch. */
  private def bucketExpr(vec: org.apache.spark.sql.Column,
                         ps: Array[Array[Double]]): org.apache.spark.sql.Column =
    HashExprs.hyperplane_bucket(vec, ps)

  /** Approximate top-k via L random-hyperplane hash tables of b bits each.
    * Recall ≈ 1-(1-p^bits)^tables with p = 1 - θ/π per hyperplane, so few
    * bits + many tables suits the moderate-similarity regime (θ ≈ 60-80°)
    * typical of real embedding neighbors; grow `bits` with corpus size to
    * keep buckets bounded. Index entries for all tables are produced in a
    * SINGLE scan (explode over a static struct array), not one scan per
    * table.
    *
    * `multiProbe`: additionally probe every 1-bit-flipped bucket of each
    * QUERY signature (Lv et al. 2007) — a near-miss on one hyperplane no
    * longer loses the pair. The candidate index is untouched (no extra
    * index space); only the tiny broadcast query side fans out ×(bits+1),
    * buying the recall of many more tables at a fraction of the cost. */
  /** Bits per hash table that keep the EXPECTED bucket size near
    * `targetBucket` for a corpus of `n` vectors: each bit halves a
    * table's bucket population, so bits = ceil(log2(n / targetBucket)),
    * clamped to [1, 30]. This is how `bits` should scale with corpus
    * size — pass an approximate count (table stats / countApprox) at real
    * scale rather than running an exact count job. Probe cost per query
    * then stays O(tables × targetBucket) as the corpus grows; recall lost
    * to the extra bits is bought back with `tables` or `multiProbe`. */
  def autoBits(n: Long, targetBucket: Int = 256): Int = {
    require(n > 0 && targetBucket > 0, "need positive counts")
    val b = math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(30, math.max(1, b))
  }

  /** [[autoBits]] with no float log: the smallest b with
    * 2^b · targetBucket >= n, via the bit length of
    * ceil(n/targetBucket) - 1. Integer-exact, so an oracle SQL can
    * recompute the SAME b from the same count (float log2 can land on
    * either side of ceil() at exact powers of two) — the det-LSH
    * registered queries use this so their bucket geometry replays in
    * any engine at any scale factor. */
  def autoBitsExact(n: Long, targetBucket: Int = 256): Int = {
    require(n > 0 && targetBucket > 0, "need positive counts")
    val ceilDiv = (n + targetBucket - 1) / targetBucket
    val b =
      if (ceilDiv <= 1) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(ceilDiv - 1)
    math.min(30, math.max(1, b.toInt))
  }

  /** [[lshTopK]]'s deterministic twin — the registered
    * ann_lsh_topk/ann_lsh_multiprobe form: buckets come from
    * [[lshDetBuckets]] (md5-Rademacher planes, integer micro-unit
    * dots), so the probe structure AND the integer-bp ranking replay
    * bit-for-bit in any engine — the bucketed-ANN scale path is also
    * the hash-checked one. With `multiProbe` each query additionally
    * probes every Hamming-distance-1 neighbor bucket (Lv et al. 2007),
    * buying recall back without more tables. Probe cost per query
    * stays O(tables × bucket) — pass bits from [[autoBitsExact]]. */
  def lshTopKDet(candidates: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, bits: Int, tables: Int = 16,
                 multiProbe: Boolean = false): DataFrame = {
    val c0 = spread(candidates).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q0 = queries.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cB = lshDetBuckets(c0, bits, tables)
      .select(col("id").as("cand_id"), col("t"), col("bucket"))
    val qB0 = lshDetBuckets(q0, bits, tables)
      .select(col("id").as("query_id"), col("t"), col("bucket"))
    val qB =
      if (!multiProbe) qB0
      else qB0.select(col("query_id"), col("t"),
        explode(array((col("bucket") +: (0 until bits).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p)))): _*)).as("bucket"))
    val cand = cB.join(qB, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_bp").desc, col("cand_id").asc)
    cand
      .join(c0.select(col("id").as("cand_id"), col("v").as("cv")),
        "cand_id")
      .join(q0.select(col("id").as("query_id"), col("v").as("qv")),
        "query_id")
      .withColumn("sim_bp",
        round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
          .cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim_bp"))
      .orderBy("query_id", "rank")
  }

  def lshTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 4, tables: Int = 16,
              dim: Int = -1, seed: Long = 42L,
              multiProbe: Boolean = false): DataFrame = {
    val c0 = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    // infer dim from the data unless pinned: a plane/vector dim mismatch
    // null-pads zip_with, every dot falls to the otherwise(0) branch, and
    // ALL rows silently land in one bucket (an all-pairs join). head(1)
    // guards the empty-candidate case (head() would throw); pass dim > 0
    // to skip this extra job when the dimension is known.
    val d = if (dim > 0) dim
            else c0.select(size(col("cv"))).head(1) match {
              case Array(r) => r.getInt(0)
              case _ => 1 // no candidates: any dim yields the empty result
            }
    val tablePlanes = (0 until tables).map(t => planes(bits, d, seed + t))
    def index(df: DataFrame, idName: String, vecName: String,
              probe: Boolean): DataFrame = {
      // per table: one array of (tbl, bucket) structs, with the bucket
      // signature bound once (the probe variants are cheap XORs of it)
      def entries(v: org.apache.spark.sql.Column) =
        concat(tablePlanes.zipWithIndex.map { case (ps, t) =>
          TF.bind(bucketExpr(v, ps)) { base =>
            val variants =
              if (!probe) Seq(base)
              else base +: (0 until bits).map(b =>
                base.bitwiseXOR(lit(1 << b)))
            array(variants.map(bk =>
              struct(lit(t).as("tbl"), bk.as("bucket"))): _*)
          }
        }: _*)
      df.select(col(idName), col(vecName),
          explode(TF.bind(col(vecName))(entries)).as("tb"))
        .select(col(idName), col(vecName), col("tb.tbl").as("tbl"),
          col("tb.bucket").as("bucket"))
    }
    val cIdx = index(c0, "cand_id", "cv", probe = false)
    val qIdx = index(q0, "query_id", "qv", probe = multiProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    cIdx.join(broadcast(qIdx), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
      // a pair may collide in several tables: dedup by grouping on the id
      // pair (shuffling (long,long,double)), NOT distinct() over rows that
      // still carry both vectors — hashing arrays dominates otherwise
      .groupBy("query_id", "cand_id").agg(first("sim").as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF-Flat: assign every candidate to its nearest of `nlist` centroids
    * (trained by k-means on a sample, fixed seed), then search each query
    * only in its `nprobe` nearest cells. */
  /** √n COARSE-QUANTIZER SIZING POLICY (the FAISS guideline nlist ≈
    * √n, r14 verdict #3): the det-IVF families take their coarse cells
    * from a label column, so with a FIXED label set the cells fatten
    * linearly as the corpus grows and per-query probed-list length is
    * Θ(n/nlist) — the measured superlinear 2M chain serve. This policy
    * keeps probed-list length ~√n by REFINING each label cell into
    * `s` deterministic subcells ([[ivfDetTopK]]'s `subcells`), where s
    * is the smallest power of two with (labels·s)² >= n — i.e. the
    * smallest power-of-two refinement that brings nlist = labels·s to
    * at least √n. Integer-exact on purpose (no float log/sqrt): an
    * oracle recomputes the SAME s from the same counts, the
    * [[autoBitsExact]] pattern. At real scale pass an approximate
    * count (table stats) rather than running an exact count job; cap
    * via `maxSub` (with the [[planeKernelOf]] maxCells guard
    * as the downstream backstop). */
  def autoSubcellsExact(n: Long, labels: Long, maxSub: Int = 1024): Int = {
    require(n > 0 && labels > 0, "need positive counts")
    require(maxSub > 0 && Integer.bitCount(maxSub) == 1,
      s"maxSub must be a positive power of two, got $maxSub")
    var s = 1L
    while (labels * s * labels * s < n && s < maxSub) s <<= 1
    s.toInt
  }

  /** Deterministic cell REFINEMENT behind [[autoSubcellsExact]]:
    * re-label (id, label, v) rows as
    * label·s + Σ_{dim<log2(s)} 2^dim·[xi_dim > ci_dim], the sign
    * pattern of the vector's first log2(s) micro-unit coordinates
    * against ITS LABEL's integer centroid — a hyperplane split through
    * each cell's center (axis-aligned median-ish for centered data),
    * so subcells inherit the parent cell's locality instead of
    * scattering neighbors the way an id-hash would. Every step is the
    * same integer arithmetic the det chain already replays in SQL
    * (the prefix centroids ARE [[detIvfCentroids]] restricted to
    * dim < log2(s)). Vectors with no prefix coordinates (empty
    * arrays) keep subkey 0 — they are filtered from home/probe sides
    * downstream anyway (buildDetIvfIndex's empty-vector note). */
  private def detRefineLabels(e: DataFrame, subcells: Int): DataFrame =
    if (subcells <= 1) e
    else {
      require(Integer.bitCount(subcells) == 1,
        s"subcells must be a power of two, got $subcells")
      val bbits = Integer.numberOfTrailingZeros(subcells)
      val pdims = e.select(col("id"), col("label"),
          posexplode(slice(col("v"), 1, bbits)).as(Seq("dim", "x")))
        .withColumn("xi", floor(col("x") * 1000000.0 + 0.5).cast("long"))
      val pcent = detIvfCentroids(pdims)
      val sub = pdims.join(broadcast(pcent), Seq("label", "dim"))
        .groupBy("id")
        .agg(expr("sum(CASE WHEN xi > ci THEN shiftleft(CAST(1 AS " +
          "BIGINT), CAST(dim AS INT)) ELSE CAST(0 AS BIGINT) END)")
          .as("sub"))
      e.join(sub, Seq("id"), "left")
        .select(col("id"),
          (col("label") * subcells + coalesce(col("sub"), lit(0L)))
            .as("label"),
          col("v"))
    }

  /** [[ivfTopK]]'s oracle-checkable twin: the coarse cells come from
    * per-LABEL centroids in integer micro-units (the ann_centroids /
    * ann_label_similarity recipe — a deterministic stand-in for the
    * k-means codebook with the IDENTICAL probe structure: every vector
    * homes to its nearest cell, queries probe the `nprobe` nearest,
    * exact integer-bp cosine ranks the probed candidates). Cell
    * affinity is floor(1e4·dot/(√|v|·√|c|)) over exact integer dots —
    * the float division is the same expression in both engines on the
    * same integers, the ann_label_similarity-proven pattern — so the
    * whole index replays in SQL where the k-means variant's codebook
    * cannot. `queryPred` selects the probe side from the same corpus.
    * `subcells` > 1 applies the √n quantizer-sizing policy
    * ([[autoSubcellsExact]] / [[detRefineLabels]]): same machinery
    * over the refined label space, so probed-list length stays ~√n as
    * the corpus grows instead of Θ(n/labels). The inline twin IS the
    * lifecycle: [[ivfIndexTopK]] serving [[buildDetIvfIndex]]. */
  def ivfDetTopK(embs: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, queryPred: Column, k: Int,
                 nprobe: Int = 2, subcells: Int = 1): DataFrame =
    ivfIndexTopK(buildDetIvfIndex(embs, idCol, vecCol, labelCol, subcells),
      embs, idCol, vecCol, queryPred, k, nprobe)

  /** Shared exact tail of the IVF-Flat paths ([[ivfDetTopK]] and the
    * persisted-index [[ivfIndexTopK]]): the probe side rides in as a
    * BROADCAST that already CARRIES the query vectors (queries ×
    * nprobe rows — index-metadata-sized), the candidate side already
    * carries its vector, so the q×(probed-list) pair stream is created
    * map-side and flows STRAIGHT into the k-bounded top-k partial agg
    * — it is never shuffled, sorted, or joined again. The previous
    * form joined the bare pair stream against the vector table by
    * cand_id, which at depth became a sort-merge join SORTING the
    * entire pair stream (measured on the 200k deep rung: ~160M pairs,
    * 13.8 GB spill, >90% of serve wall time); attaching vectors
    * BEFORE the fan-out keeps every per-pair byte pipelined. Only k
    * rows per (query, partition) cross the final shuffle. Selection
    * is identical to the row_number window (sim_bp DESC, cand_id ASC)
    * — oracle-parity load-bearing like [[exactCosineRerank]].
    *
    * Deployment note: the partial agg must stay on ObjectHashAggregate's
    * HASH path — Spark's default
    * spark.sql.objectHashAggregate.sortBased.fallbackThreshold=128
    * forces a sort-based fallback past 128 query groups per partition,
    * which re-sorts the whole pair stream (measured 8-14 GB spill and
    * ~10× serve wall time on a 160M-pair scan). This repo raises it to
    * 65536 via build.sbt javaOptions; a deployment should size it to
    * its per-partition query-panel cardinality. */
  private def ivfScoredTopKTail(probesV: DataFrame, homeV: DataFrame,
                                k: Int): DataFrame = {
    homeV.join(broadcast(probesV), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
          .cast("long").as("sim_bp"))
      .groupBy("query_id").agg(graft.functions.TopKAgg
        .topk_longs(col("sim_bp"), col("cand_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("cand_id"), col("col._1").as("sim_bp"))
      .orderBy("query_id", "rank")
  }

  /** The det-IVF index as its two PERSISTABLE relations — exactly the
    * state FAISS serializes for an IVF-Flat index: the coarse quantizer
    * (cell, dim, ci) in integer micro-units and the inverted-file
    * routing table (id, cell). Vectors themselves stay in the base
    * table: the index is metadata OVER the corpus, which is what makes
    * a persisted version cheap to store and re-serve (a 100 TB corpus's
    * IVF metadata is GBs, not TBs). Lifecycle glue (versioned persist /
    * load / streaming fold) lives in
    * [[graft.sources.AnnIndexStore]]. `collected` is the plane a build
    * already holds; `copy` keeps it. */
  final case class IvfIndexRelations(centroids: DataFrame,
                                     home: DataFrame,
                                     collected: Option[PlaneKernel] = None) {
    /** The ranking kernel's plane: the build's, or [[centroids]]
      * collected once per LOADED index value, so every serve and stream
      * of one index shares one collect. */
    private[graft] lazy val plane: PlaneKernel =
      collected.getOrElse(planeKernelOf(centroids))
  }

  /** Build the det-IVF index relations once — the offline "train +
    * add" step of the index lifecycle, and the one preamble of every
    * det-IVF family ([[ivfDetTopK]], [[ivfDetHomeCells]],
    * [[buildDetIvfPqIndex]], [[ivfPqResidualDetTopK]]).
    * Home assignment runs on the collected-plane kernel (one n·d
    * aggregation to train, one narrow map pass to add — the FAISS
    * train/add split), which is what keeps the add step O(n·nlist·d)
    * map-side work with no n×nlist shuffle as `subcells` grows nlist
    * under the √n policy ([[autoSubcellsExact]]). */
  def buildDetIvfIndex(embs: DataFrame, idCol: String, vecCol: String,
                       labelCol: String,
                       subcells: Int = 1): IvfIndexRelations = {
    val e = detRefineLabels(spread(embs).select(col(idCol).as("id"),
      col(labelCol).cast("long").as("label"),
      col(vecCol).cast("array<double>").as("v")), subcells)
    // map-side cell ranking (HashExprs.DetIvfCellsI64 — the one det-IVF
    // cell ranking, bit-identical to the relational rank chain the
    // oracles replay): the coarse quantizer is collected once
    // (maxCells-guarded index metadata) and home cells are one narrow
    // map pass — no n×nlist exploded dots shuffle or per-id rank window
    val pk = planeKernelOf(detIvfCentroids(detDims(e))
      .select(col("label").as("cell"), col("dim"), col("ci")))
    // EMPTY-array vectors get no home (and, at serve, no probes) — the
    // relational rank chain produced no dims rows (hence no rank rows)
    // for them, while the kernel would rank every cell at affinity 0
    // and home them to the smallest cell; the filter preserves the
    // relational no-home contract (zero-NORM but non-empty vectors rank
    // 0 in both forms and stay). One routing row per id, as the store's
    // folds and chain reads keep it: every serve joins home back to the
    // corpus by id, so a corpus row repeated under one id would
    // otherwise multiply that candidate's pairs
    val home = e.filter(size(col("v")) > 0)
      .select(col("id"),
        element_at(kernelCells(pk, col("v"), 1), 1).as("cell"))
      .distinct()
    IvfIndexRelations(planeRelationOf(e.sparkSession, pk), home, Some(pk))
  }

  /** Serve top-k from an ALREADY-BUILT index — the load-and-serve step:
    * query vectors rank the index's centroid relation for their nprobe
    * probe cells, probe rows join the routing table, and the exact
    * rerank runs over the probed lists only. The quantizer is never
    * rebuilt — the entire point of persisting it. Per-id probe ranks
    * are independent, so ranking just the query set against the same
    * centroids equals the oracle's rank-all-then-filter chain
    * bit-for-bit; a freshly built, a memoized and a LOADED index all
    * share the det chain's DuckDB oracle. */
  def ivfIndexTopK(index: IvfIndexRelations, embs: DataFrame,
                   idCol: String, vecCol: String, queryPred: Column,
                   k: Int, nprobe: Int = 2): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // attach the vector to each routing row ONCE — a LINEAR id-keyed
    // join (n index rows against n corpus rows), never the pair
    // stream; then repartition so the broadcast-probe fan-out's
    // parallelism comes from the plan, not the routing table's file
    // count (see ivfIndexCandidates' layout note)
    val homeV = index.home.select(col("id").as("cand_id"), col("cell"))
      .join(e.select(col("id").as("cand_id"), col("v").as("cv")),
        "cand_id")
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
    // empty-array vectors get no probes — see buildDetIvfIndex's note
    val probesV = e.filter(queryPred && size(col("v")) > 0)
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(kernelCells(index.plane, col("v"), nprobe)).as("cell"))
    ivfScoredTopKTail(probesV, homeV, k)
  }

  /** The (query_id, cand_id) probed-pair relation of the SERVE paths —
    * [[ivfIndexTopK]]'s candidate stage, exposed because probed-pair
    * VOLUME is the quantity the √n quantizer-sizing policy
    * ([[autoSubcellsExact]]) controls: per-query probed rows are
    * Θ(nprobe·n/nlist), and the scale ladder measures this relation's
    * count directly to verify probed rows grow ~√n, not ~n. Probe
    * cells come from the LOADED quantizer via the collected-plane
    * kernel (one small collect, map-side ranking — bit-identical to
    * the relational rank chain, which previously exploded q×nlist
    * rows through a shuffle and per-id window as nlist grew). */
  def ivfIndexCandidates(index: IvfIndexRelations, embs: DataFrame,
                         idCol: String, vecCol: String,
                         queryPred: Column, nprobe: Int): DataFrame = {
    val probes = queryPanel(embs, idCol, vecCol, queryPred)
      .select(col("id").as("query_id"),
        explode(kernelCells(index.plane, col("v"), nprobe)).as("cell"))
    // candidate-join parallelism must come from the PLAN, not the file
    // layout: the routing table compresses to very few parquet files
    // (16 bytes/row), and the broadcast probe join fans each home row
    // out ~|queries| times — read as one partition, the whole q×n pair
    // stream lands on ONE task (the 2M deep rung measured 40+ min on
    // one core before this). Round-robin repartition is correct here
    // because the probe side is broadcast — no co-partitioning needed;
    // cost is one linear shuffle of (id, cell) rows.
    val home = index.home
      .select(col("id").as("cand_id"), col("cell"))
      .repartition(embs.sparkSession.sparkContext.defaultParallelism)
    // NO distinct over the q×n pair stream: pairs are unique by
    // construction — home holds exactly one (rk = 1) cell per id
    // (builds and chain reads keep one row per id), the query panel one
    // row per query, and a query's probe cells are distinct
    // (rank-filtered) — so a distinct here would hash/spill the whole
    // fan-out (1.6B rows at the 2M deep rung) to remove nothing. The
    // pair stream stays PIPELINED from the join into the k-bounded
    // partial agg.
    probes.join(home, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id")
  }

  /** The query side of the det-PQ serves: the non-empty `queryPred`
    * rows as (id, v), one row per id — the oracles probe and build LUTs
    * per distinct query id, so a query row repeated in the corpus must
    * not repeat its candidate pairs. The id-hashed repartition is the
    * panel's one shuffle: it spreads the tiny panel over every core
    * (AQE would coalesce an unsized shuffle to one partition, and when
    * the routing table is small enough to broadcast, probes are the
    * STREAM side of the candidate fan-out — the 2M deep rung ran the
    * whole q×n pair stream on one core until the panel was spread), and
    * the distinct after it reuses that partitioning. */
  private def queryPanel(embs: DataFrame, idCol: String, vecCol: String,
                         queryPred: Column): DataFrame =
    embs.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(queryPred && size(col("v")) > 0)
      .repartition(embs.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .distinct()

  /** The det IVF-PQ index as its FOUR persistable relations — the
    * complete FAISS IVFPQ serialization: coarse quantizer + routing
    * table ([[IvfIndexRelations]]) plus the PQ codebook (cw, j, dim,
    * ci) and the per-vector code words (id, codes). Codes are the
    * memory-bound payload a PQ index exists to shrink: 8 longs per
    * vector here versus 64 floats of raw data. */
  final case class IvfPqIndexRelations(ivf: IvfIndexRelations,
                                       codebook: DataFrame,
                                       codes: DataFrame)

  /** Build the det IVF-PQ index relations once (train + encode + add):
    * [[buildDetIvfIndex]]'s coarse level plus [[addDetPq]]'s PQ half.
    * `subcells` applies the √n quantizer-sizing policy to the coarse
    * level. */
  def buildDetIvfPqIndex(embs: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, ks: Int = 16,
                         subcells: Int = 1): IvfPqIndexRelations =
    addDetPq(buildDetIvfIndex(embs, idCol, vecCol, labelCol, subcells),
      embs, idCol, vecCol, ks)

  /** Train + encode the PQ half over an ALREADY-BUILT det-IVF index:
    * the codebook and the codes do not depend on the coarse cells, so
    * a registry adds them to its one memoized coarse build instead of
    * training the coarse level again. */
  def addDetPq(ivf: IvfIndexRelations, embs: DataFrame, idCol: String,
               vecCol: String, ks: Int = 16): IvfPqIndexRelations = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // the encode kernel's collect materializes the codebook; every later
    // reader (query LUTs, persist) reads those blocks instead of
    // re-ranking the corpus by md5
    val cb = Lineage.cut(detPqCodebook(e, ks))
    IvfPqIndexRelations(ivf, cb, detPqCodesKernel(e, cb))
  }

  /** Serve IVF-PQ top-k from an ALREADY-BUILT index: probe cells and
    * probed candidates from the coarse level ([[ivfIndexCandidates]]),
    * candidate codes from the index's code relation, the query's ADC
    * LUT from its CODEBOOK (the only per-query quantizer work — ks ×
    * subspace distances), exact integer-bp rerank of the ADC
    * shortlist. Per-id probe ranks, code assignments, and LUT entries
    * are all independent per id, so computing the query side alone
    * against the index relations reproduces the oracle's
    * rank-everything chain bit-for-bit. */
  def ivfPqIndexTopK(index: IvfPqIndexRelations, embs: DataFrame,
                     idCol: String, vecCol: String, queryPred: Column,
                     k: Int, nprobe: Int = 2,
                     shortlist: Int = 32): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cand = ivfIndexCandidates(index.ivf, embs, idCol, vecCol,
      queryPred, nprobe)
    val qlutW = detPqQueryLut(queryPanel(embs, idCol, vecCol, queryPred),
      index.codebook)
    // ADC only over IVF-probed candidates: the pair relation carries
    // 8-codeword rows (codes join) + the broadcast per-query LUT, and
    // the shortlist partial agg bounds the shuffle — ADC must never be
    // a shuffled LUT-match join
    val pairsAdc = cand
      .join(index.codes.select(col("id").as("cand_id"), col("codes")),
        "cand_id")
      .join(broadcast(qlutW), "query_id")
      .select(col("query_id"), col("cand_id"), adcColumn.as("adc"))
    exactCosineRerank(adcShortlist(pairsAdc, shortlist), e, k)
  }

  /** The det-IVF index's HOME-CELL relation, exposed as its own
    * operator: every vector's rank-1 cell under the integer-exact
    * affinity ranking [[ivfDetTopK]] builds on — [[buildDetIvfIndex]]'s
    * routing table, ordered by id. The relation a vector store
    * materializes as its routing table, and the batch ground truth the
    * STREAMING cell assignment
    * ([[graft.streaming.AnnIngest.assignCells]]) must agree with. */
  def ivfDetHomeCells(embs: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame =
    buildDetIvfIndex(embs, idCol, vecCol, labelCol).home
      .select(col("id").as(idCol), col("cell"))
      .orderBy(idCol)

  /** The collected det-IVF coarse quantizer in the flat form the
    * [[graft.functions.HashExprs.DetIvfCellsI64]] kernel consumes —
    * cells in ascending order, integer micro-unit centroid coordinates
    * dense by dim, the precomputed Σci² norms. */
  final case class PlaneKernel(cells: Array[Long],
                               flat: Array[Long],
                               nc: Array[Long], dims: Int)

  /** Collect a centroid RELATION (cell, dim, ci) — freshly aggregated
    * or LOADED from a persisted index version — into the plane every
    * consumer ranks against: one collect, map-side ranking everywhere,
    * batch and streaming alike; arriving vectors never trigger a
    * rebuild. Cells × dims is index metadata, not corpus data (a
    * 4096-cell × 1024-dim plane is ~32 MB of longs); `maxCells` is the
    * hard cap that keeps the collect bounded no matter what label
    * column the index was built over. */
  private def planeKernelOf(cent: DataFrame,
                            maxCells: Int = 65536): PlaneKernel = {
    val rows = cent.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("dim"), col("ci"))))
        .as("cs"))
      .limit(maxCells + 1)
      .collect()
      .sortBy(_.getLong(0))
    require(rows.length <= maxCells,
      s"centroid plane exceeds maxCells=$maxCells — not a coarse " +
        "quantizer; pick a coarser label column or raise the cap " +
        "deliberately")
    require(rows.nonEmpty,
      "det-IVF over an empty corpus: no centroid cells to rank")
    val cis = rows.map(_.getSeq[org.apache.spark.sql.Row](1)
      .map(_.getLong(1)).toArray)
    val dimsN = cis.head.length
    val flat = new Array[Long](cis.length * dimsN)
    cis.zipWithIndex.foreach { case (ci, i) =>
      System.arraycopy(ci, 0, flat, i * dimsN, dimsN) }
    PlaneKernel(rows.map(_.getLong(0)), flat,
      cis.map(_.foldLeft(0L)((nc, x) => nc + x * x)), dimsN)
  }

  /** The collected plane back as its (cell, dim, ci) relation — what a
    * build step PERSISTS. Rebuilding from the collected values (rather
    * than keeping the aggregation plan alive) means the n·d centroid
    * aggregation executes exactly once per build: the collect IS the
    * execution, and the persisted relation is its replay. */
  private def planeRelationOf(spark: org.apache.spark.sql.SparkSession,
                              pk: PlaneKernel): DataFrame = {
    import spark.implicits._
    pk.cells.indices.flatMap { i =>
      (0 until pk.dims).map(d =>
        (pk.cells(i), d, pk.flat(i * pk.dims + d)))
    }.toSeq.toDF("cell", "dim", "ci")
  }

  /** The `nprobe` best cells of vector `v` in rank order — the one
    * det-IVF cell ranking: index builds, batch serves and the streaming
    * ingest and probe ([[graft.streaming.AnnIngest]]) all call it. */
  private[graft] def kernelCells(pk: PlaneKernel, v: Column,
                                 nprobe: Int): Column =
    HashExprs.det_ivf_cells_i64(v, pk.cells, pk.flat, pk.nc, pk.dims,
      nprobe)

  /** Micro-unit coordinate explode shared by the det-IVF relations:
    * (id, label, dim, xi) with xi = floor(x·10⁶ + 0.5). */
  private def detDims(e: DataFrame): DataFrame = e
    .select(col("id"), col("label"), posexplode(col("v")).as(Seq("dim", "x")))
    .withColumn("xi", floor(col("x") * 1000000.0 + 0.5).cast("long"))

  /** Integer per-(cell, dim) centroid relation over detDims rows —
    * order-free: round-half-up of sum(xi)/cnt over the SNAPPED
    * coordinates (a double avg() is summation-order-dependent — Spark
    * partial-agg order varies with partitioning; DuckDB's parallel avg
    * differs too — so a borderline .5 could flip between
    * runs/engines). The +2e6 offset keeps the numerator non-negative
    * (xi ∈ [-1e6, 1e6] for unit-ish coords) because Spark DIV
    * truncates while DuckDB // floors — they differ on negatives. */
  private def detIvfCentroids(dims: DataFrame): DataFrame =
    dims.groupBy("label", "dim")
      .agg(expr("CAST((2 * (sum(xi) + 2000000 * count(1)) + count(1))" +
        " DIV (2 * count(1)) - 2000000 AS BIGINT)").as("ci"))

  /** [[ivfPqTopK]]'s oracle-checkable twin — the composition that closes
    * the last seeded-only index family: coarse cells from
    * [[ivfDetTopK]]'s per-label integer centroids (home = rank-1
    * affinity, queries probe the `nprobe` nearest), fine ranking from
    * [[pqDetTopK]]'s exact integer ADC LUT over the md5-ranked
    * codebook, computed ONLY for candidates homed in probed cells — the
    * real IVF-PQ cost model (ADC work ∝ probed-list size, never corpus
    * size) — then exact integer-bp cosine rerank of the ADC shortlist.
    * Every step is integer arithmetic over md5-deterministic structure,
    * so the full two-level index replays in SQL; the seeded
    * [[ivfPqTopK]] stays the library path with its AnnSpec recall
    * bound. [[ivfPqIndexTopK]] serving [[buildDetIvfPqIndex]]. */
  def ivfPqDetTopK(embs: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, queryPred: Column, k: Int,
                   nprobe: Int = 2, ks: Int = 16,
                   shortlist: Int = 32): DataFrame =
    ivfPqIndexTopK(buildDetIvfPqIndex(embs, idCol, vecCol, labelCol, ks),
      embs, idCol, vecCol, queryPred, k, nprobe, shortlist)

  /** [[ivfPqDetTopK]] with RESIDUAL encoding — the actual FAISS IVF-PQ
    * construction: every vector is PQ-coded as its residual against its
    * home-cell centroid (ri = xi − ci, exact integer subtraction over
    * micro-units), the md5-seed codebook is built from the seeds' OWN
    * residuals, and each query builds one ADC LUT PER PROBED CELL from
    * its residual against THAT cell's centroid. Residuals concentrate
    * the coded distribution around zero, which is why FAISS encodes
    * them instead of raw vectors; here the point is that even the
    * two-level residual geometry stays bit-replayable in SQL (integer
    * residuals of integer centroids). Candidates in cell c are scored
    * with the query's cell-c LUT only — the per-(query, cell) LUT
    * relation is queries × nprobe rows of m·ks longs (index metadata,
    * broadcast like [[ivfPqDetTopK]]'s LUT), and ADC stays a map-side
    * scan of the probed lists. Tail identical to [[ivfPqDetTopK]]:
    * ADC shortlist, exact integer-bp cosine rerank, (sim DESC, cand
    * ASC) ties. [[ivfPqResidualIndexTopK]] over [[buildDetIvfIndex]]. */
  def ivfPqResidualDetTopK(embs: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, queryPred: Column, k: Int,
                           nprobe: Int = 2, ks: Int = 16,
                           shortlist: Int = 32): DataFrame =
    ivfPqResidualIndexTopK(
      buildDetIvfIndex(embs, idCol, vecCol, labelCol), embs, idCol,
      vecCol, queryPred, k, nprobe, ks, shortlist)

  /** [[ivfPqResidualDetTopK]] over an ALREADY-BUILT coarse index: the
    * residual codebook and codes are trained here against the index's
    * centroids and routing table. */
  def ivfPqResidualIndexTopK(index: IvfIndexRelations, embs: DataFrame,
                             idCol: String, vecCol: String,
                             queryPred: Column, k: Int, nprobe: Int = 2,
                             ks: Int = 16, shortlist: Int = 32)
      : DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // the coarse quantizer is the index's COLLECTED plane
    // (maxCells-guarded index metadata, the same plane a streaming
    // ingest broadcasts) and every downstream consumer — the cell
    // ranking, the residual joins, the seed codebook, the encode
    // kernel — reads the COLLECTED values as a literal relation or
    // reference object. The first kernel cut recomputed the full n·d
    // centroid aggregation three times (two driver collects + the
    // final plan), which cost more at the 50k rung than the fan-out it
    // removed.
    val pk = index.plane
    // rename the centroid keys once: both residual joins re-key on
    // (cell, dim) and an un-renamed join side makes `dim` ambiguous
    val cent = index.centroids
      .select(col("cell").as("c_cell"), col("dim").as("c_dim"),
        col("ci"))
    // every vector's home cell from the index's routing table (empty-
    // array vectors have none — buildDetIvfIndex's note), joined to its
    // vector once for the residual encode below
    val home = index.home
    val eHome = home.join(e, "id")
    // md5-ranked seed ids; the codebook is their residuals
    val seeds = e.select(col("id"))
      .withColumn("r", md5(concat(lit("pq:"), col("id").cast("string"))))
      .orderBy(col("r"), col("id")).limit(ks)
      .withColumn("cw", row_number().over(Window.orderBy("r", "id"))
        .cast("long"))
      .select("id", "cw")
    // seed residuals ONLY (ks vectors exploded — index metadata, not
    // corpus); per-id home cells are independent, so restricting to
    // the seed rows equals rank-all-then-filter bit-for-bit
    val sdims = detPqDims(e.join(broadcast(seeds.select("id")), "id"))
      .select("id", "dim", "xi")
    val seedHome = home.join(broadcast(seeds.select("id")), "id")
    val cb = sdims.join(seedHome, "id")
      .join(broadcast(cent),
        col("cell") === col("c_cell") && col("dim") === col("c_dim"))
      .join(broadcast(seeds), "id")
      .select(col("cw"), expr("dim DIV 8").as("j"), col("dim"),
        (col("xi") - col("ci")).as("ci"))
    // the residual codebook is collected once (ks × dims longs, ~1 KB
    // of index metadata) and feeds BOTH kernels below as a plan
    // reference object
    val (ksActual, cbDimsN, cbFlat) = codebookKernelOf(cb)
    require(cbDimsN == pk.dims,
      s"codebook dims $cbDimsN != centroid plane dims ${pk.dims}")
    // candidate codes via the codegen'd residual-encode kernel
    // (HashExprs.PqEncodeResidI64): one map pass over the homed vectors
    // computes xi − ci against the home centroid and the
    // argmin-ssd codeword per subspace — bit-identical to the
    // relational dims ⋈ home ⋈ cent → ×ks codebook join → 64M-group
    // argmin window it replaces, which was the same n×dims×ks fan-out
    // the plain-PQ kernel (detPqCodesKernel) killed in r13
    // One row per id (detPqCodesKernel's note), deduped by id so the
    // dedupe's shuffle is the candidate join's own
    val codesW = eHome.select(col("id").as("cand_id"),
      HashExprs.pq_encode_resid_i64(col("v"), col("cell"), pk.cells,
        pk.flat, cbFlat, ksActual, cbDimsN).as("codes"))
      .dropDuplicates("cand_id")
    // probe cells AND the per-(query, probed cell) residual ADC LUTs
    // map-side from the same kernels over the query panel only
    // (HashExprs.PqLutResidI64 — the relational qrd ⋈ codebook →
    // double-groupBy chain as one expression per probe row)
    val probesV = queryPanel(embs, idCol, vecCol, queryPred)
      .select(col("id").as("query_id"), col("v"),
        explode(kernelCells(pk, col("v"), nprobe)).as("pcell"))
    val probes = probesV.select("query_id", "pcell")
    val qlutW = probesV.select(col("query_id"), col("pcell"),
      HashExprs.pq_lut_resid_i64(col("v"), col("pcell"), pk.cells,
        pk.flat, cbFlat, ksActual, cbDimsN).as("lut"))
    // candidates keyed by the home cell that reached them, so ADC uses
    // the matching per-cell LUT. NO distinct over the pair stream:
    // (query, cand, cell) rows are unique by construction — home holds
    // exactly one (rk = 1) cell per id and a query's probe cells are
    // rank-distinct — so a distinct here would hash/spill the whole
    // q×n fan-out to remove nothing (ivfIndexCandidates' note; this was
    // the last pair stream still paying it)
    val cnd = probes
      .join(home.select(col("id").as("cand_id"), col("cell")),
        col("pcell") === col("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id", "cell")
    val pairsAdc = cnd.join(codesW, "cand_id")
      .join(broadcast(qlutW),
        cnd("query_id") === qlutW("query_id") &&
          col("cell") === col("pcell"))
      .select(cnd("query_id"), col("cand_id"), adcColumn.as("adc"))
    exactCosineRerank(adcShortlist(pairsAdc, shortlist), e, k)
  }

  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              sampleSize: Int = 2000, iters: Int = 10,
              seed: Long = 42L): DataFrame = {
    val c0 = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    // deterministic k-means on a driver-side sample (coarse quantizer only;
    // the index build over candidates stays distributed)
    val sample = c0.orderBy("cand_id").limit(sampleSize)
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    val cents = kmeans(sample, nlist, iters, seed)
    val centLit = array(cents.map(c => typedLit(c.toSeq)): _*)
    // vec and the distance array are each bound once per row (TF.bind):
    // unbound, `dists` would be re-evaluated per sequence element — an
    // nlist x (nlist x dim) blowup.
    def nearestCells(vec: org.apache.spark.sql.Column, n: Int) =
      TF.bind(vec) { v =>
        TF.bind(transform(centLit, c =>
            aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, s) => acc + s))) { dists =>
          slice(array_sort(
            transform(sequence(lit(0), lit(nlist - 1)),
              i => struct(element_at(dists, i + 1).as("d"), i.as("cell")))),
            1, n)
        }
      }
    val cCells = c0.withColumn("cell",
      element_at(nearestCells(col("cv"), 1), 1).getField("cell"))
    val qCells = q0.withColumn("cell",
      explode(transform(nearestCells(col("qv"), nprobe), s => s.getField("cell"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    cCells.join(broadcast(qCells), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Product quantization (Jégou, Douze, Schmid 2011) two-stage search:
    * vectors are unit-normalized and split into `m` subspaces; each
    * subspace is vector-quantized to one of `codes` per-subspace
    * centroids (trained like ivfTopK's coarse quantizer on a bounded
    * driver-side sample, deterministic seed). A query precomputes one
    * m x codes lookup table of subspace distances, so scoring a
    * candidate under asymmetric distance is m array lookups instead of a
    * dim-wide dot product — and at rest the index stores m small codes
    * per vector (m=8, codes=16 compresses a 64-dim float32 vector 64x),
    * which is what makes an exhaustive re-score over 100 TB of
    * embeddings feasible. The ADC shortlist (rerank * k per query) is
    * then re-ranked by exact cosine on the ORIGINAL vectors — the
    * standard refinement stage, so the emitted sims are directly
    * comparable to bruteForceTopK's.
    *
    * Codebooks are engine-internal state → registered rows-only;
    * AnnSpec bounds recall against the exact baseline. */
  /** [[pqTopK]]'s oracle-checkable twin — the PQ structure (split
    * dimensions into 8-wide subspaces, quantize each subvector to a
    * 16-entry codebook, rank by asymmetric-distance LUT sums, exact
    * rerank of the shortlist) with a DETERMINISTIC codebook: the
    * codewords of every subspace are the integer micro-unit subvectors
    * of the 16 corpus vectors with the smallest md5("pq:" vec_id)
    * rank — a sampled codebook (no Lloyd iterations; FAISS-style
    * k-means initialization stopped at its seed step), which keeps the
    * whole index SQL-replayable. Assignment and LUT entries are exact
    * integer squared distances, the ADC sum is exact, the shortlist is
    * totally ordered, and the exact integer-bp cosine rerank emits the
    * final ranking — so the entire memory-bound path hash-checks.
    * `queryPred` selects probes from the same corpus. */
  /** Micro-unit sub-vector dims of (id, v): (id, dim, j, xi) with
    * 8-wide subspaces — shared by the inline det-PQ chain and the
    * persisted-index serve path (query-side LUT build). */
  private def detPqDims(e: DataFrame): DataFrame = e
    .select(col("id"), posexplode(col("v")).as(Seq("dim", "x")))
    .select(col("id"), col("dim"), expr("dim DIV 8").as("j"),
      floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))

  /** The det-PQ CODEBOOK relation (cw, j, dim, ci): sub-vectors of the
    * `ks` corpus vectors with the smallest md5("pq:" id) rank — the
    * persistable quantizer half of the PQ index (ks × dims rows of
    * longs, pure index metadata). */
  private[graft] def detPqCodebook(e: DataFrame, ks: Int): DataFrame = {
    val seeds = e.select(col("id"))
      .withColumn("r", md5(concat(lit("pq:"), col("id").cast("string"))))
      .orderBy(col("r"), col("id")).limit(ks)
      .withColumn("cw", row_number().over(Window.orderBy("r", "id"))
        .cast("long"))
      .select("id", "cw")
    // explode ONLY the ks seed rows (the full-corpus explode joined
    // against 16 seeds used to materialize n×dims rows to keep ~1k)
    detPqDims(e.join(broadcast(seeds.select("id")), "id"))
      .join(broadcast(seeds), "id")
      .select(col("cw"), col("j"), col("dim"), col("xi").as("ci"))
  }

  /** ssd(id, j, cw) of sub-vector dims against a codebook relation —
    * freshly built or LOADED from a persisted index version. */
  private def detPqSsdFrom(dims: DataFrame, cb: DataFrame): DataFrame =
    dims.join(broadcast(cb), Seq("j", "dim"))
      .groupBy("id", "j", "cw")
      .agg(sum((col("xi") - col("ci")) * (col("xi") - col("ci")))
        .as("ssd"))

  /** CANDIDATE-side det-PQ encode via the codegen kernel
    * (HashExprs.PqEncodeI64): the codebook relation (ks × dims longs,
    * ~1 KB — index metadata) is collected once and rides the plan as a
    * reference object; every vector encodes in one map pass. Output
    * (id, codes) is bit-identical to the relational
    * ssd → argmin-window → collect_list chain it replaces — that chain
    * fanned n×dims exploded rows ×ks through the codebook join (512M
    * rows at the 500k-vector ladder rung) and was spill-bound at depth
    * (last-decade exponent 1.38 → 0.9 with the kernel,
    * SCALE_r13_emb). The QUERY-side LUT stays relational: it needs the
    * per-(j, cw) distances themselves, and the query panel is
    * constant-sized. */
  private def detPqCodesKernel(e: DataFrame, cb: DataFrame): DataFrame = {
    val (ks, cbDims, flat) = codebookKernelOf(cb)
    // one code row per id, as the routing table keeps one home row
    // (buildDetIvfIndex's note): a corpus row repeated under one id
    // would otherwise seat that candidate in several shortlist slots
    e.select(col("id"),
      HashExprs.pq_encode_i64(col("v"), flat, ks, cbDims).as("codes"))
      .distinct()
  }

  /** Collect a (cw, dim, ci) codebook into the encode kernels' flat
    * form: (ks, dims, row-major coordinates). Codewords are numbered
    * 1..ks in cw order, the order of the query LUTs' entries: a seed
    * with an EMPTY vector has no rows (the oracles' codebook joins drop
    * it), and numbering by raw cw would leave an all-zero codeword in
    * its slot that the encode could pick and no LUT entry matches. */
  private def codebookKernelOf(cb: DataFrame): (Int, Int, Array[Long]) = {
    val rows = cb.select(col("cw"), col("dim"), col("ci")).collect()
    require(rows.nonEmpty, "empty PQ codebook")
    val slot = rows.map(_.getLong(0)).distinct.sorted.zipWithIndex.toMap
    val dims = rows.iterator.map(_.getInt(1)).max + 1
    val flat = new Array[Long](slot.size * dims)
    rows.foreach { r =>
      flat(slot(r.getLong(0)) * dims + r.getInt(1)) = r.getLong(2)
    }
    (slot.size, dims, flat)
  }


  /** Per-query flattened ADC LUT from a QUERY-ONLY ssd relation — the
    * second half of the former detPqWide, fed by the constant-sized
    * query panel instead of the whole corpus. */
  private def detPqQueryLut(q: DataFrame, cb: DataFrame): DataFrame =
    detPqSsdFrom(detPqDims(q), cb)
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(j, cw, ssd)))," +
        " s -> s.ssd)").as("lut"))
      .select(col("id").as("query_id"), col("lut"))


  /** Exact integer-bp cosine rerank of an ADC shortlist against the
    * (id, v) relation — the shared tail of every det-PQ family
    * ([[pqDetTopK]], [[ivfPqDetTopK]], [[ivfPqResidualDetTopK]]). The
    * rounding mode (round-half-AWAY-FROM-ZERO: Spark round() is
    * HALF_UP, which is exactly DuckDB's round()) and the (sim DESC,
    * cand ASC) tie order are ORACLE-PARITY LOAD-BEARING: all three
    * DuckDB replays share this exact selection, so a drift here in one
    * family is a hash mismatch in all of them. Do NOT "fix" this to
    * bround() (round-half-even) — that would break every det-PQ oracle
    * replay on the .5 boundary cases. */
  private def exactCosineRerank(short: DataFrame, e: DataFrame,
                                k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_bp").desc, col("cand_id").asc)
    short
      .join(e.select(col("id").as("cand_id"), col("v").as("cv")),
        "cand_id")
      .join(e.select(col("id").as("query_id"), col("v").as("qv")),
        "query_id")
      .withColumn("sim_bp",
        round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
          .cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim_bp"))
      .orderBy("query_id", "rank")
  }

  /** Exact integer ADC over the wide layout: adc = Σ_j lut[j·m +
    * codes[j]] (codewords are 1-based; m is recovered from the array
    * sizes so undersized codebooks — corpora smaller than ks — stay
    * correct). Codegen'd kernel (HashExprs.AdcI64): the former
    * aggregate(transform(element_at…)) chain was interpreted per pair
    * — on the q×n ADC scan the interpreter, not the arithmetic, was
    * the cost (SCALE_r13_emb, 500k rung). */
  private def adcColumn: Column =
    HashExprs.adc_i64(col("codes"), col("lut"))

  /** k-bounded ADC shortlist: topk_longs partial-aggregates per
    * (query, map partition), so only `shortlist` rows per partition —
    * not the q×n ADC relation — cross the one shuffle. Selection is
    * identical to ORDER BY adc ASC, cand_id ASC LIMIT shortlist. */
  private def adcShortlist(pairsAdc: DataFrame,
                           shortlist: Int): DataFrame = {
    pairsAdc.groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .topk_longs(-col("adc"), col("cand_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("cand_id"))
  }

  def pqDetTopK(embs: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int, ks: Int = 16,
                shortlist: Int = 32): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cb = detPqCodebook(e, ks)
    pqIndexTopK(cb, detPqCodesKernel(e, cb), embs, idCol, vecCol,
      queryPred, k, shortlist)
  }

  /** Flat det-PQ serve from an ALREADY-BUILT codebook and code relation
    * (a built IVF-PQ index's PQ half; the coarse level is unused): the
    * query LUTs from the codebook, the ADC scan over every code row,
    * exact rerank of the shortlist. */
  def pqIndexTopK(codebook: DataFrame, codes: DataFrame, embs: DataFrame,
                  idCol: String, vecCol: String, queryPred: Column,
                  k: Int, shortlist: Int = 32): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val codesW = codes.select(col("id").as("cand_id"), col("codes"))
    val qlutW = detPqQueryLut(queryPanel(embs, idCol, vecCol, queryPred),
      codebook)
    // flat PQ: every query scans every candidate's codes — as a
    // broadcast nested-loop over the tiny LUT relation, pipelined into
    // the ADC expression and the k-bounded partial agg (no shuffle ever
    // carries the q×n relation)
    val pairsAdc = codesW.crossJoin(broadcast(qlutW))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), adcColumn.as("adc"))
    exactCosineRerank(adcShortlist(pairsAdc, shortlist), e, k)
  }

  /** FAISS-style 8-bit SCALAR quantizer, det twin (the ScalarQuantizer
    * QT_8bit index family: per-DIMENSION [min, max] trained over the
    * corpus, each coordinate stored as one byte code = ⌊(x − min)·255 /
    * (max − min)⌋ — 4× smaller than float32 with no codebook, the
    * third FAISS compression family next to PQ and IVF-PQ). Two
    * deliberate deviations from FAISS's QT_8bit arithmetic, chosen so
    * the chain stays integer-exact and SQL-replayable (like the other
    * det twins): encode FLOORS where FAISS rounds-to-nearest, and the
    * ADC reconstructs at the bucket's LEFT edge (vmin + code·Δ/255)
    * where FAISS uses bucket centers ((code + 0.5)·Δ/255) — a
    * systematic half-LSB distance bias that only perturbs the ADC
    * shortlist ORDER and is absorbed by the exact rerank. Every step
    * is exact integer arithmetic on micro-unit coordinates so the
    * whole chain (train → encode → asymmetric-distance scan → exact
    * rerank) replays in ANSI SQL: distances compare in units of
    * 1/(255·10⁶) — d_dim = xi_q·255 − (vmin_d·255 + code·(vmax_d −
    * vmin_d)), all BIGINTs. PRECONDITION: input vectors must be
    * unit-norm-scaled (|coordinate| ≤ ~1, i.e. micro-units ≤ ~10⁶ —
    * the embeddings table's contract): then |d_dim| ≤ 5.1e8 and Σd² ≤
    * ~4·10¹²·255² ≈ 2.6e17, 35× inside Long range. An adversarial
    * non-unit-norm corpus (e.g. one-hot axes at |x|=10⁶) would push
    * the worst case toward ~8.5e18 — within ~8% of Long.MaxValue in
    * BOTH engines — so the bound is a requirement on the input, not a
    * property of the operator.
    *
    * Execution shape mirrors [[pqDetTopK]]: the trained ranges fold
    * into a per-query LUT (lut_d = xi_q·255 − vmin_d·255) plus a scale
    * array (vmax_d − vmin_d), broadcast against one-row-per-candidate
    * code arrays — the q×n asymmetric-distance scan is a pipelined map
    * into the k-bounded shortlist partial-agg; no shuffle ever carries
    * it. Train is one (dims)-sized aggregation — at 100 TB the ranges
    * relation is 64 rows regardless of corpus size. */
  def sq8DetTopK(embs: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int, shortlist: Int = 32)
      : DataFrame =
    sq8IndexTopK(buildSq8Index(embs, idCol, vecCol), embs, idCol,
      vecCol, queryPred, k, shortlist)

  /** The SQ8 index as its TWO persistable relations — the complete
    * FAISS ScalarQuantizer serialization: the trained per-dimension
    * ranges (dim, vmin, vmax — 64 rows of longs regardless of corpus
    * size) and the per-vector byte-code arrays (id, codes — the
    * memory-bound payload, one long-encoded byte per coordinate vs a
    * float of raw data). */
  final case class Sq8IndexRelations(ranges: DataFrame,
                                     codes: DataFrame)

  /** Train + encode the SQ8 index once ([[sq8DetTopK]]'s quantizer
    * half). Encode: DIV truncates, DuckDB // floors — operands are
    * non-negative in the guarded branch, so the two semantics
    * coincide; code hits 255 exactly at xi = vmax, no clamp needed. */
  def buildSq8Index(embs: DataFrame, idCol: String,
                    vecCol: String): Sq8IndexRelations = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = detPqDims(e).select("id", "dim", "xi")
    val ranges = dims.groupBy("dim")
      .agg(min("xi").as("vmin"), max("xi").as("vmax"))
    val codes = dims.join(broadcast(ranges), "dim")
      .withColumn("code", expr(
        "CASE WHEN vmax > vmin THEN ((xi - vmin) * 255)" +
          " DIV (vmax - vmin) ELSE CAST(0 AS BIGINT) END"))
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(dim, code)))," +
        " s -> s.code)").as("codes"))
    Sq8IndexRelations(ranges, codes)
  }

  /** Serve SQ8 top-k from an ALREADY-BUILT index: the query's LUT
    * (lut_d = xi_q·255 − vmin_d·255) and the scale array come from the
    * LOADED ranges — the only per-query quantizer work is 64 integer
    * subtractions; candidate codes come from the loaded code relation.
    * Output-identical to [[sq8DetTopK]]'s inline chain by construction
    * (per-dimension ranges and per-id codes are independent of the
    * query set), so it shares the det chain's DuckDB oracle. */
  def sq8IndexTopK(index: Sq8IndexRelations, embs: DataFrame,
                   idCol: String, vecCol: String, queryPred: Column,
                   k: Int, shortlist: Int = 32): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val qlutW = detPqDims(e.filter(queryPred)).select("id", "dim", "xi")
      .join(broadcast(index.ranges), "dim")
      .withColumn("lu", col("xi") * 255 - col("vmin") * 255)
      .withColumn("sc", col("vmax") - col("vmin"))
      .groupBy("id")
      .agg(expr("array_sort(collect_list(struct(dim, lu, sc)))").as("ts"))
      .select(col("id").as("query_id"),
        expr("transform(ts, t -> t.lu)").as("lut"),
        expr("transform(ts, t -> t.sc)").as("scl"))
    // see ivfIndexTopK's layout note: the code relation compresses
    // small, and the broadcast cross join fans out ~|queries| per row
    val codesW = index.codes.select(col("id").as("cand_id"), col("codes"))
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
    // codegen'd SQ8 asymmetric distance (HashExprs.Sq8AdcI64) — the
    // interpreted HOF form was the scan cost at the 500k ladder rung
    val pairsAdc = codesW.crossJoin(broadcast(qlutW))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        HashExprs.sq8_adc_i64(col("codes"), col("lut"), col("scl"))
          .as("adc"))
    exactCosineRerank(adcShortlist(pairsAdc, shortlist), e, k)
  }

  /** Matryoshka truncation-recall eval (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): how much of the FULL-
    * dimension exact top-k survives when ranking uses only the first
    * m coordinates — the measurement behind serving truncated MRL
    * embeddings (store/scan m/64 of the bytes, re-rank the shortlist
    * full-width). One row per prefix width: (m, queries,
    * mean_overlap_bp) with mean_overlap_bp = ⌊10⁴·Σ|top_full ∩
    * top_m| / (k·queries)⌋ — exact integer arithmetic end to end
    * (micro-unit dots, the shared floor-bp affinity form), so the
    * whole eval replays in SQL.
    *
    * Execution shape: ONE broadcast scan computes every prefix's
    * similarity per (query, candidate) pair — candidates carry their
    * micro-unit arrays + per-prefix norms, the fixed eval panel is
    * broadcast, and all rankings reduce through k-bounded
    * [[graft.functions.TopKAgg.topk_longs]] partial aggs in
    * the SAME groupBy (the q×n relation never crosses a shuffle, and
    * the corpus is scanned once, not once per prefix). queryPred
    * should select a CONSTANT-sized panel so the scan stays linear in
    * the corpus at any SF. */
  def matryoshkaRecall(embs: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int,
                       prefixes: Seq[Int] = Seq(8, 16, 32))
      : DataFrame = {
    require(prefixes.nonEmpty, "need at least one prefix width")
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val xi = e.select(col("id"),
      expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
        .as("xs"))
    // per-id prefix norms (full = the whole array), computed map-side
    def n2(m: String) = expr(
      s"aggregate(slice(xs, 1, $m), CAST(0 AS BIGINT), (a, x) -> a + x * x)")
    val widths = prefixes.map(m => (s"p$m", m.toString)) :+
      (("full", "size(xs)"))
    val wide = xi.select(col("id") +: col("xs") +:
      widths.map { case (nm, m) => n2(m).as(s"n2_$nm") }: _*)
    val cand = wide.select(col("id").as("cand_id") +: col("xs").as("cxs") +:
      widths.map { case (nm, _) => col(s"n2_$nm").as(s"cn2_$nm") }: _*)
    // per-width prefix arrays are cut ONCE per query row on the tiny
    // broadcast side; the pair scan then runs the codegen'd integer
    // dot (HashExprs.DotI64, which sums over the SHORTER array — the
    // m-wide query prefix against the full candidate array IS the
    // prefix dot). The previous aggregate(zip_with(slice, slice))
    // chain was interpreted and allocated slices + a zipped array per
    // (pair, width) — the same GC wall the funnel hit at the 500k
    // ladder rung. Same exact integer sums, same oracle.
    val qs = wide.join(e.filter(queryPred).select("id"), "id")
      .select(col("id").as("query_id") +: col("xs").as("qxs") +:
        (widths.map { case (nm, _) => col(s"n2_$nm").as(s"qn2_$nm") } ++
         widths.collect { case (nm, m) if nm != "full" =>
           expr(s"slice(xs, 1, $m)").as(s"qxs_$nm") }): _*)
    def simBp(nm: String, m: String) = {
      val qv = if (nm == "full") col("qxs") else col(s"qxs_$nm")
      val dot = HashExprs.dot_i64(qv, col("cxs"))
      when(col(s"qn2_$nm") > 0 && col(s"cn2_$nm") > 0,
        floor(lit(10000.0) * dot /
          (sqrt(col(s"qn2_$nm")) * sqrt(col(s"cn2_$nm")))).cast("long"))
        .otherwise(0L).as(s"sim_$nm")
    }
    val pairs = cand.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id") +: col("cand_id") +:
        widths.map { case (nm, m) => simBp(nm, m) }: _*)
    val tops = pairs.groupBy("query_id")
      .agg(graft.functions.TopKAgg
          .topk_longs(col("sim_full"), col("cand_id"), k).as("t_full"),
        prefixes.map(m => graft.functions.TopKAgg
          .topk_longs(col(s"sim_p$m"), col("cand_id"), k)
          .as(s"t_p$m")): _*)
    val perQ = tops.select(col("query_id") +:
      expr("transform(t_full, t -> t._2)").as("f_ids") +:
      prefixes.map(m =>
        expr(s"transform(t_p$m, t -> t._2)").as(s"ids_p$m")): _*)
    // one (m, ov) row per (query, prefix) via a single explode — a
    // per-prefix union of groupBys would recompute the pair scan once
    // per prefix width
    perQ.select(explode(array(prefixes.map(m =>
        struct(lit(m.toLong).as("m"),
          expr(s"CAST(size(array_intersect(f_ids, ids_p$m)) AS BIGINT)")
            .as("ov"))): _*)).as("x"))
      .select(col("x.m").as("m"), col("x.ov").as("ov"))
      .groupBy("m")
      .agg(count(lit(1)).as("queries"),
        expr(s"CAST((10000 * sum(ov)) DIV ($k * count(1)) AS BIGINT)")
          .as("mean_overlap_bp"))
      .orderBy("m")
  }

  /** Coarse-to-fine Matryoshka FUNNEL retrieval — the serving pattern
    * truncated MRL embeddings exist for: shortlist candidates by the
    * first `m` coordinates' cosine (scan m/dims of the bytes per
    * candidate), pay full width only to exactly re-rank the
    * shortlist. Same exact-integer construction as the det ANN
    * families (micro-unit prefix dots, the shared floor-bp affinity
    * form, the shared [[exactCosineRerank]] tail), so the funnel
    * replays in SQL. Execution shape: candidates carry ONLY their
    * m-wide prefix (the bandwidth saving is structural, not an
    * annotation), the panel is broadcast, and the shortlist reduces
    * through the k-bounded topk_longs partial agg — the q×n prefix
    * scan never crosses a shuffle. */
  def matryoshkaFunnelTopK(embs: DataFrame, idCol: String,
                           vecCol: String, queryPred: Column, k: Int,
                           m: Int = 16, shortlist: Int = 32)
      : DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val xi = e.select(col("id"),
      expr(s"transform(slice(v, 1, $m)," +
        " x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("xs"))
      .withColumn("n2", expr(
        "aggregate(xs, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    val cand = xi.select(col("id").as("cand_id"), col("xs").as("cxs"),
      col("n2").as("cn2"))
    val qs = xi.join(e.filter(queryPred).select("id"), "id")
      .select(col("id").as("query_id"), col("xs").as("qxs"),
        col("n2").as("qn2"))
    // codegen'd integer dot (HashExprs.DotI64) — the interpreted
    // aggregate(zip_with(...)) form allocated a zipped array per pair,
    // which at the 500k-rung's 20M-pair scan turned GC into the cost
    // (54.8 s; 4.9 s with the kernel — SCALE_r13_emb). Same exact
    // integer sum, same oracle.
    val pairs = cand.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot", HashExprs.dot_i64(col("qxs"), col("cxs")))
      .select(col("query_id"), col("cand_id"),
        when(col("qn2") > 0 && col("cn2") > 0,
          floor(lit(10000.0) * col("dot") /
            (sqrt(col("qn2")) * sqrt(col("cn2")))).cast("long"))
          .otherwise(0L).as("sim_pre"))
    val short = pairs.groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .topk_longs(col("sim_pre"), col("cand_id"), shortlist)
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("cand_id"))
    exactCosineRerank(short, e, k)
  }

  def pqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, codes: Int = 16,
             rerank: Int = 8, sampleSize: Int = 2000, iters: Int = 10,
             seed: Long = 43L): DataFrame = {
    val cRaw = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qRaw = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    // unit-normalize for the quantizer (cosine ranking = L2 on the unit
    // sphere); zero vectors pass through unchanged
    def unit(vc: org.apache.spark.sql.Column) = TF.bind(vc) { v =>
      TF.bind(sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))) { n =>
        when(n === 0.0, v).otherwise(transform(v, x => x / n))
      }
    }
    val cU = cRaw.select(col("cand_id"), unit(col("cv")).as("uv"))
    // per-subspace codebooks from a driver-side sample (hard-capped like
    // ivfTopK/semdedup — the train step is a bounded collect by design)
    val sample = cU.orderBy("cand_id").limit(sampleSize)
      .select("uv").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTopK needs a non-empty candidate set")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subd = dim / m
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      kmeans(sample.map(_.slice(s * subd, (s + 1) * subd)),
        codes, iters, seed + s).map(_.toSeq).toSeq
    }
    val cbLit = typedLit(books)
    // squared L2 between a bound subvector and a codebook row
    def d2(u: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column) =
      aggregate(zip_with(u, w, (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    // encode: per subspace, the argmin codebook row (array_sort on
    // (dist, code) structs — the nearestCells trick, per subspace)
    def encode(vec: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(m - 1)), s =>
        TF.bind(slice(vec, s * subd + 1, lit(subd))) { sub =>
          TF.bind(element_at(cbLit, s + 1)) { book =>
            element_at(array_sort(
              transform(sequence(lit(0), lit(codes - 1)), c =>
                struct(d2(sub, element_at(book, c + 1)).as("d"),
                  c.as("code")))), 1).getField("code")
          }
        })
    // query LUT: subspace s x code c -> squared L2 to that centroid
    def lut(vec: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(m - 1)), s =>
        TF.bind(slice(vec, s * subd + 1, lit(subd))) { sub =>
          transform(element_at(cbLit, s + 1), cb => d2(sub, cb))
        })
    val cCoded = cU.select(col("cand_id"), encode(col("uv")).as("cds"))
    val qSide = qRaw.select(col("query_id"), col("qv"),
      lut(unit(col("qv"))).as("lut"))
    // ADC scan: m lookups per (query, candidate) — never a dim-wide dot
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("cand_id").asc)
    val short = cCoded.crossJoin(broadcast(qSide))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist", aggregate(sequence(lit(0), lit(m - 1)),
        lit(0.0), (acc, s) => acc + element_at(
          element_at(col("lut"), s + 1),
          element_at(col("cds"), s + 1) + 1)))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerank)
      .select("query_id", "qv", "cand_id")
    // refine: exact cosine on the original vectors over the shortlist
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    short.join(cRaw, "cand_id")
      .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ two-level search — the FAISS production index shape for
    * corpus-scale ANN: an IVF coarse quantizer restricts each query to
    * its `nprobe` nearest cells (so the scan touches n·nprobe/nlist
    * candidates, not n), and WITHIN the probed cells candidates are
    * scored by PQ asymmetric distance (m table lookups per pair against
    * 64x-compressed codes), with the usual exact-cosine refinement of
    * the ADC shortlist. Composes [[ivfTopK]]'s cell assignment with
    * [[pqTopK]]'s codebooks; both quantizers train on the same bounded
    * driver-side sample (deterministic seeds). At 100 TB this is the
    * index you actually build: cells partition the corpus, codes make
    * the per-cell scan memory-resident, refinement touches only
    * rerank·k original vectors per query.
    *
    * Quantizer state is engine-internal → registered rows-only; AnnSpec
    * bounds recall against the exact baseline. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, codes: Int = 16, rerank: Int = 8,
                sampleSize: Int = 2000, iters: Int = 10,
                seed: Long = 44L): DataFrame = {
    val cRaw = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qRaw = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    def unit(vc: org.apache.spark.sql.Column) = TF.bind(vc) { v =>
      TF.bind(sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))) { n =>
        when(n === 0.0, v).otherwise(transform(v, x => x / n))
      }
    }
    val sampleRaw = cRaw.orderBy("cand_id").limit(sampleSize)
      .select("cv").collect().map(_.getSeq[Double](0).toArray)
    require(sampleRaw.nonEmpty, "ivfPqTopK needs a non-empty candidate set")
    val dim = sampleRaw(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subd = dim / m
    def unitJvm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    // coarse quantizer on raw vectors (the ivfTopK convention), PQ
    // codebooks on unit vectors (the pqTopK convention) — one collect
    val cents = kmeans(sampleRaw, nlist, iters, seed)
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      kmeans(sampleRaw.map(unitJvm).map(_.slice(s * subd, (s + 1) * subd)),
        codes, iters, seed + 1 + s).map(_.toSeq).toSeq
    }
    val centLit = array(cents.map(c => typedLit(c.toSeq)): _*)
    val cbLit = typedLit(books)
    def d2(u: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column) =
      aggregate(zip_with(u, w, (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    def nearestCells(vec: org.apache.spark.sql.Column, n: Int) =
      TF.bind(vec) { v =>
        TF.bind(transform(centLit, c => d2(v, c))) { dists =>
          slice(array_sort(
            transform(sequence(lit(0), lit(nlist - 1)),
              i => struct(element_at(dists, i + 1).as("d"), i.as("cell")))),
            1, n)
        }
      }
    def encode(vec: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(m - 1)), s =>
        TF.bind(slice(vec, s * subd + 1, lit(subd))) { sub =>
          TF.bind(element_at(cbLit, s + 1)) { book =>
            element_at(array_sort(
              transform(sequence(lit(0), lit(codes - 1)), c =>
                struct(d2(sub, element_at(book, c + 1)).as("d"),
                  c.as("code")))), 1).getField("code")
          }
        })
    def lut(vec: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(m - 1)), s =>
        TF.bind(slice(vec, s * subd + 1, lit(subd))) { sub =>
          transform(element_at(cbLit, s + 1), cb => d2(sub, cb))
        })
    // the stored index row: cell + m codes per candidate (the original
    // vector is NOT carried through the scan — only the refinement
    // re-reads it, by id)
    val cIdx = cRaw.select(col("cand_id"),
      element_at(nearestCells(col("cv"), 1), 1).getField("cell").as("cell"),
      encode(unit(col("cv"))).as("cds"))
    val qSide = qRaw.select(col("query_id"), col("qv"),
      explode(transform(nearestCells(col("qv"), nprobe),
        s => s.getField("cell"))).as("cell"),
      lut(unit(col("qv"))).as("lut"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("cand_id").asc)
    val short = cIdx.join(broadcast(qSide), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist", aggregate(sequence(lit(0), lit(m - 1)),
        lit(0.0), (acc, s) => acc + element_at(
          element_at(col("lut"), s + 1),
          element_at(col("cds"), s + 1) + 1)))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerank)
      .select("query_id", "qv", "cand_id")
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    short.join(cRaw, "cand_id")
      .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression step before shipping vectors to an index or a training
    * job (4x smaller than float32, 8x than float64). Per vector:
    * scale = max |x_i|, q_i = floor(x_i * 127 / scale + 0.5) ∈ [-127,127]
    * (floor(+0.5) instead of round(): identical half-up behavior in every
    * engine, no HALF_EVEN ambiguity). Zero vectors quantize to zeros.
    *
    * Pure per-row Column work inside whole-stage codegen — no shuffle at
    * all; `scale` is bound once per row (TF.bind), not re-evaluated per
    * element (Catalyst has no CSE across lambda references). */
  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    spread(embs)
      .select(col(idCol),
        TF.bind(col(vecCol).cast("array<double>")) { v =>
          TF.bind(aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))) {
            s =>
              struct(s.as("scale"),
                transform(v, x => when(s === 0.0, lit(0L))
                  .otherwise(floor(x * lit(127.0) / s + lit(0.5))
                    .cast("long"))).as("q"))
          }
        }.as("sq"))
      .select(col(idCol), col("sq.scale").as("scale"), col("sq.q").as("q"))

  /** Upper-triangle covariance sufficient statistics of an embedding
    * cloud: (dim_a, dim_b, n, sx, sy, sxy) with coordinates snapped to
    * integer micro-units (floor(x*1e6+0.5)) first, so the statistics are
    * exact and engine-portable. Sums go through DECIMAL(38,0): xi is up
    * to ~1e6 so xa*xb is up to ~1e12 per row, and a LongType sum would
    * silently wrap past 2^63 at ~9M vectors — exactly the scale the
    * operator exists for; Spark's 128-bit decimal sum matches DuckDB's
    * HUGEINT widening (both convert the exact integer to the same
    * nearest double downstream). Plan: one exploded (vec, dim, xi)
    * relation self-joined on vec_id (d rows a side per key), partial-
    * aggregated to the d x d upper triangle before the shuffle. */
  def covarianceStats(embs: DataFrame, idCol: String,
                      vecCol: String): DataFrame = {
    val dims = spread(embs)
      .select(col(idCol).as("vec_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))
    dims.select(col("vec_id"), col("dim").as("dim_a"), col("xi").as("xa"))
      .join(dims.select(col("vec_id"), col("dim").as("dim_b"),
        col("xi").as("xb")), Seq("vec_id"))
      .filter(col("dim_a") <= col("dim_b"))
      .groupBy("dim_a", "dim_b")
      .agg(count(lit(1)).as("n"),
        sum(col("xa").cast("decimal(38,0)")).as("sx"),
        sum(col("xb").cast("decimal(38,0)")).as("sy"),
        sum((col("xa") * col("xb")).cast("decimal(38,0)")).as("sxy"))
  }

  /** [[covarianceStats]] reduced to the floored covariance in micro-unit²
    * (the shared input of embed_covariance and embed_pca_power). */
  def covarianceTri(embs: DataFrame, idCol: String,
                    vecCol: String): DataFrame =
    covarianceStats(embs, idCol, vecCol)
      .select(col("dim_a"), col("dim_b"),
        floor(col("sxy").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n"))).cast("long")
          .as("cov_u"))

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): per query, greedily pick k results from the `pool` most
    * relevant candidates, each pick maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked (λ = 0.7 as
    * integer weights 7/3 over basis-point cosines, so the selection is
    * exact integer arithmetic and replays in any engine; ties resolve to
    * the smaller candidate id, the empty-set redundancy term is 0).
    *
    * The RAG answer-diversity primitive: plain top-k returns near
    * duplicates, MMR trades a little relevance for coverage. Execution
    * shape: one broadcast-probe scan builds the per-query pool (the only
    * corpus-sized work — swap in LSH/IVF/PQ candidates at 100 TB), then
    * the k−1 greedy steps run over the bounded nq × pool relation and
    * its nq × pool² pair sims, cut so the fold's lineage stays flat
    * ([[Lineage.rounds]]). Output: (query_id, pick_rank 1..k, cand_id, mmr). */
  def mmrTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, pool: Int = 20): DataFrame = {
    val c = spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val wRel = Window.partitionBy("query_id")
      .orderBy(col("rel_bp").desc, col("cand_id").asc)
    val rel = Lineage.cut(c
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("rel_bp",
        round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
          .cast("long"))
      .withColumn("rr", row_number().over(wRel))
      .filter(col("rr") <= pool)
      .select(col("query_id"), col("cand_id"), col("rel_bp"), col("cv")))
    val pairs = Lineage.cut(rel
      .select(col("query_id"), col("cand_id").as("a_id"), col("cv").as("av"))
      .join(rel.select(col("query_id"), col("cand_id").as("b_id"),
        col("cv").as("bv")), Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"),
        round(HashExprs.cosine_sim(col("av"), col("bv")) * 10000)
          .cast("long").as("pair_bp")))
    val sel1 = Lineage.cut(rel.withColumn("rn", row_number().over(wRel))
      .filter(col("rn") === 1)
      .select(col("query_id"), lit(1L).as("pick_rank"), col("cand_id"),
        (lit(7L) * col("rel_bp")).as("mmr")))
    val selK = Lineage.rounds(sel1, k - 1) { (sel, r) =>
      val selIds = sel.select(col("query_id"), col("cand_id"))
      val maxsim = pairs
        .join(selIds.withColumnRenamed("cand_id", "b_id"),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id").as("cand_id"))
        .agg(max(col("pair_bp")).as("maxsim"))
        .join(selIds, Seq("query_id", "cand_id"), "left_anti")
      val wPick = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("cand_id").asc)
      val pick = maxsim
        .join(rel.select(col("query_id"), col("cand_id"), col("rel_bp")),
          Seq("query_id", "cand_id"))
        .withColumn("mmr",
          lit(7L) * col("rel_bp") - lit(3L) * col("maxsim"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("query_id"), lit(r + 1L).as("pick_rank"),
          col("cand_id"), col("mmr"))
      sel.unionByName(pick)
    }
    selK.orderBy("query_id", "pick_rank")
  }

  /** Labeled micro-unit coordinates: (vec_id, y, dim, xi) with xi =
    * floor(x*1e6+0.5) — the shared exploded relation of [[linearProbe]]
    * and [[linearProbeScores]]. */
  private def labeledDims(embs: DataFrame, idCol: String, vecCol: String,
                          yCol: String): DataFrame =
    spread(embs)
      .select(col(idCol).as("vec_id"), col(yCol).cast("long").as("y"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("y"), col("dim"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))

  /** Linear quality-classifier probe on an embedding store — the
    * fastText/CCNet-style "train a cheap linear filter on embeddings"
    * primitive of LLM data pipelines — trained by FIXED-STEP Richardson
    * iteration (= gradient descent on least squares), every step exact
    * integer arithmetic so any engine replays the identical weights.
    *
    * Solves Cov·w = c (centered least squares against y in ±1):
    *   - C = integer covariance / 100, truncated toward zero,
    *   - c = cross-covariance of micro-unit coords with y,
    *   - step: w += (c·1e10 − C·w) / S, S = Gershgorin row-sum bound
    *     (≥ λ_max, so the iteration contracts on C's range space),
    *     clamped to ±1e6 (overflow guard: |C·w| ≤ 64·1e12·1e6 < 2^63
    *     even at the theoretical max covariance of unit-norm coords).
    *   A dim survives a step only with a c entry, a matrix row meeting
    *   the previous w, and a previous w (the oracle's inner joins).
    *
    * Spark runs the corpus-sized reductions (the covariance triangle,
    * shared with embed_covariance via the caller's memo, and c), each
    * collected once; the d×d steps run on the driver in exact Long
    * arithmetic that throws on overflow. The unrolled DuckDB CTEs of
    * the embed_linear_probe oracle replay them independently.
    *
    * INPUT-DOMAIN CONTRACT: y values must be ±1 and coordinates must be
    * unit-norm-scaled (|x| < 2, i.e. micro-units |xi| <= 2e6 — the
    * embeddings table's contract): the cross-covariance pass sums
    * xi·y in a LONG, whose addend bound (2e6) keeps the sum exact to
    * ~4.6e12 rows. A caller feeding large-magnitude embeddings would
    * silently wrap the Long sum under non-ANSI Spark where the old
    * decimal(38) path was unconditionally safe — scale inputs first.
    * Output: local (dim, w), sorted by dim. */
  def linearProbe(embs: DataFrame, idCol: String, vecCol: String,
                  yCol: String, iters: Int = 8,
                  covTri: Option[DataFrame] = None): DataFrame = {
    val dims = labeledDims(embs, idCol, vecCol, yCol)
    val tri = covTri.getOrElse(covarianceTri(embs, idCol, vecCol))
    // cross-covariance in LONG sums (r15): each addend is bounded by
    // |xi| <= 2e6 (coords in (-2,2), micro-units) and y = ±1, so the
    // per-dim sums stay inside a Long up to ~4.6e12 rows — far beyond
    // any per-partition corpus — and a BigDecimal add per row was most
    // of this pass's cost. covarianceTri keeps decimal because its
    // xi*xj addends (<= 4e12) would overflow a Long sum at ~2.3e6
    // rows; these addends are a million times smaller. Values are
    // identical integers either way, so the result is unchanged.
    val c = dims.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xi") * col("y")).as("sxy"),
        sum(col("xi")).as("sx"),
        sum(col("y")).as("sy"))
      .select(col("dim").cast("long"),
        floor(col("sxy").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n"))).cast("long").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mat = symmetric(tri).map { case (i, j, a) => (i, j, div(a, 100L)) }
    val s = mat.groupMapReduce(_._1)(e => Math.absExact(e._3))(
      Math.addExact).values.foldLeft(1L)(math.max)
    val wK = (1 to iters).foldLeft(c.map(_._1 -> 0L)) { (w, _) =>
      matVec(mat, w).collect {
        case (i, cw) if c.contains(i) && w.contains(i) =>
          val r = Math.subtractExact(
            Math.multiplyExact(c(i), 10000000000L), cw)
          i -> (Math.addExact(w(i), div(r, s)) max -1000000L min 1000000L)
      }
    }
    dimFrame(embs.sparkSession, "w", wK)
  }

  /** Top principal direction of a covariance triangle (dim_a, dim_b,
    * cov_u) by `iters` fixed power-iteration steps, collected once and
    * run on the driver in exact Long arithmetic (overflow throws): from
    * v = 1e5 on every dim, u = A·v, then v = u / max(ceil(max|u|/1e5), 1)
    * — max|v| stays ~1e5, so u_i ≤ 64·1e12·1e5 fits a Long, and an
    * all-zero matrix (constant embeddings) gives the zero vector. The
    * unrolled DuckDB CTEs of the embed_pca_power oracle replay the steps
    * independently. Output: local (dim, v), sorted by dim. */
  def pcaPower(tri: DataFrame, iters: Int = 6): DataFrame = {
    val mat = symmetric(tri)
    val vK = (1 to iters).foldLeft(mat.map(_._1 -> 100000L).toMap) {
      (v, _) =>
        val u = matVec(mat, v)
        val m = u.values.map(Math.absExact).foldLeft(0L)(math.max)
        val s = math.max(Math.addExact(m, 99999L) / 100000L, 1L)
        u.map { case (i, x) => i -> div(x, s) }
    }
    dimFrame(tri.sparkSession, "v", vK)
  }

  /** u_i = Σ_j a_ij·v_j over the (i, j, a) entries whose j is in v, for
    * every row i with at least one such entry; overflow throws. */
  private def matVec(mat: Seq[(Long, Long, Long)],
                     v: Map[Long, Long]): Map[Long, Long] =
    mat.foldLeft(Map.empty[Long, Long]) { case (u, (i, j, a)) =>
      v.get(j).fold(u)(x => u.updated(i,
        Math.addExact(u.getOrElse(i, 0L), Math.multiplyExact(a, x))))
    }

  /** x / s truncated toward zero, sign-split as the oracles write it
    * (DuckDB // floors); |Long.MinValue| throws rather than wrapping. */
  private def div(x: Long, s: Long): Long =
    if (x < 0) -(Math.absExact(x) / s) else x / s

  /** A covariance triangle collected and mirrored into the full
    * symmetric matrix as (i, j, cov_u) entries. */
  private def symmetric(tri: DataFrame): Seq[(Long, Long, Long)] =
    tri.select(col("dim_a").cast("long"), col("dim_b").cast("long"),
      col("cov_u")).collect().toSeq.flatMap { r =>
      val (i, j, a) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (i == j) Seq((i, j, a)) else Seq((i, j, a), (j, i, a))
    }

  private def dimFrame(s: SparkSession, name: String,
                       v: Map[Long, Long]): DataFrame =
    s.createDataFrame(
      java.util.List.of(v.toSeq.sorted.map(Row.fromTuple): _*),
      StructType.fromDDL(s"dim BIGINT, $name BIGINT"))

  /** Score every vector with a trained [[linearProbe]]: per-row centered
    * dot product Σ_j (xi_j − μ_j)·w_j, μ = exact integer FLOOR(Σxi/n)
    * per dim (sign-split so Spark's truncating DIV reproduces DuckDB's
    * flooring //). Weights and means are dim-sized — broadcast; the
    * corpus is read once, map-side. Output: (vec_id, y, score). */
  def linearProbeScores(embs: DataFrame, idCol: String, vecCol: String,
                        yCol: String, weights: DataFrame): DataFrame = {
    val dims = labeledDims(embs, idCol, vecCol, yCol)
    val mu = dims.groupBy("dim")
      // long sum: |xi| <= 2e6, safe to ~4.6e12 rows (see linearProbe)
      .agg(sum(col("xi")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("dim"),
        expr("CAST(CASE WHEN sx >= 0 THEN sx DIV n " +
          "ELSE -(((-sx) + n - 1) DIV n) END AS BIGINT)").as("mu"))
    dims.join(broadcast(mu), "dim")
      .join(broadcast(weights), "dim")
      .groupBy("vec_id", "y")
      .agg(sum((col("xi") - col("mu")) * col("w")).as("score"))
      .select(col("vec_id"), col("y"), col("score").cast("long").as("score"))
  }

  /** Per-group centroids of an embedding column, in long form
    * (group, dim, c): the distributed reduction that builds an IVF coarse
    * quantizer (or audits cluster drift) over the full corpus, not a
    * driver-side sample. posexplode + partial-aggregated avg means only
    * (group, dim, sum, count) tuples cross the shuffle — never whole
    * vectors — and the map-side combine caps shuffle volume at
    * groups x dims rows per task regardless of corpus size. Long form is
    * deliberate: no array re-assembly, trivially hashable/joinable. */
  def centroids(embs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    spread(embs)
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(groupCol, "dim")
      // + 0.0 collapses IEEE -0.0 (a rounded tiny negative mean) to 0.0,
      // keeping the hash engine-independent
      .agg((round(avg(col("x").cast("double")), 4) + lit(0.0)).as("c"))
      .orderBy(groupCol, "dim")

  /** Plain Lloyd's k-means, deterministic: first-k init after sorting. */
  // private[graft]: tools/GenSeededTruth pins the seeded semdedup
  // output at generation time through the same trainer (its
  // determinism is spec-pinned in AnnSpec)
  private[graft] def kmeans(points: Array[Array[Double]], k: Int,
                            iters: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new Random(seed)
    val n = points.length
    require(n >= k, s"need >= $k sample points, got $n")
    var cents = rnd.shuffle(points.indices.toVector).take(k)
      .map(points(_).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](points(0).length))
      val cnts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < p.length) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c)))
    }
    cents
  }

  // --------------------------------------------------------------------
  // Binary-code (Hamming) ANN: retrieval over compact bit signatures —
  // the production prefilter when embeddings are binarized (SimHash /
  // ITQ-style codes). 64x cheaper per comparison than float cosine; the
  // banded variant is the registered scale path (pigeonhole candidate
  // generation, k-bounded rerank), the brute form its eval oracle.

  /** Exact top-k by Hamming distance over 64-bit (or narrower) binary
    * codes. `sigs` is an (id, sig) relation; queries are the rows with
    * id % queryMod == 0 (the same fixed query plane every ANN eval in
    * this module uses). Declared-quadratic eval oracle: cost is
    * O(|queries| x |sigs|) single-word XOR+popcounts — the exact
    * baseline the banded path is recalled against, not the 100 TB
    * shape. Ties break (hamming asc, id asc) so the ranking is total. */
  def hammingTopK(sigs: DataFrame, idCol: String, sigCol: String,
                  k: Int, queryMod: Long = 50L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = sigs.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), col(sigCol).as("qsig"))
    val c = sigs.select(col(idCol).as("cand_id"), col(sigCol).as("csig"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("cand_id").asc)
    // no broadcast hint: the query plane is corpus-proportional (n/50),
    // so the join strategy is AQE's runtime call (the bm25 lesson)
    c.join(q, col("query_id") =!= col("cand_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(qsig ^ csig) AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  /** Banded Hamming top-k — the scale path: candidates must share at
    * least one of `nBands` contiguous `bandBits`-bit bands with the
    * query signature (the SimHash pigeonhole: any pair within Hamming
    * nBands-1 is guaranteed caught; farther pairs surface only on band
    * collisions), then the k best survivors rerank by exact Hamming.
    * Shuffle carries ids x nBands band rows and the collision pairs —
    * never the full cross product. Same output schema and tie order as
    * [[hammingTopK]]; recall against it is evaluated in AnnSpec. */
  def hammingBandedTopK(sigs: DataFrame, idCol: String, sigCol: String,
                        k: Int, bandBits: Int = 15, nBands: Int = 4,
                        queryMod: Long = 50L): DataFrame = {
    require(k >= 1 && bandBits >= 1 && nBands >= 1 &&
      bandBits * nBands <= 64,
      s"bad band geometry: $nBands x $bandBits bits")
    val mask = (1L << bandBits) - 1
    def banded(rel: DataFrame, idAs: String, sigAs: String) = rel
      .select(col(idCol).as(idAs), col(sigCol).as(sigAs),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bv",
        expr(s"shiftright($sigAs, band * $bandBits) & $mask"))
    val qb = banded(sigs.filter(col(idCol) % queryMod === 0),
      "query_id", "qsig")
    val cb = banded(sigs, "cand_id", "csig")
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("cand_id").asc)
    qb.join(cb, Seq("band", "bv"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "qsig", "cand_id", "csig")
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(qsig ^ csig) AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }
}
