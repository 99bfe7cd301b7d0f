package graft.tools

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.SparkSession

/** Generation-time ground truth for the two SEEDED approximate queries
  * (`dedup_semantic`, `media_near_dup`) — the r11 deflate pattern
  * (tools/GenDeflateTruth) applied to seeded geometry: their quantizer
  * state (k-means cells, Gaussian hyperplanes) is engine-internal, so
  * no closed-form SQL replay exists — but with a FIXED seed the output
  * is a pure function of the corpus, so the expected rows are pinned
  * ONCE beside the corpora they were computed from and the DuckDB
  * oracle joins the fixture by content digest. Staleness is
  * self-announcing, exactly like the deflate fixture: a regenerated
  * corpus changes the digests, the oracle join drops rows, and the
  * row-count check fails visibly instead of comparing stale truth.
  *
  * Independence from the operators under test: the assignment /
  * within-cell ranking / eps-drop stages (semdedup) and the bucket /
  * candidate-pair / cosine-verify stages (near-dup) are reimplemented
  * here as plain driver-side loops over collected rows — a drift in
  * either the DataFrame pipeline or this walk breaks parity loudly.
  * Two pieces are intentionally SHARED with the engine, with their
  * determinism pinned elsewhere: `Ann.kmeans` (determinism asserted in
  * AnnSpec) and `Multimodal.extractFeatures` (feature arithmetic
  * hash-verified through media_near_dup_det's closed-form oracle).
  * The seeded hyperplanes are re-derived here from the same
  * `new Random(seed)` Gaussian stream the engine documents.
  *
  * Keying:
  *   - semdedup rows key on md5 of the embedding's micro-unit CSV
  *     (floor(x·10⁶ + 0.5) per coordinate) — vectors are unique within
  *     and disjoint across the driver SFs, so one fixture serves all
  *     three;
  *   - near-dup PAIRS key on (corpus_md5, id_a, id_b) with corpus_md5 =
  *     md5 of the comma-joined per-document md5(text) in doc_id order —
  *     media payloads are NOT unique (byte-identical dupes are part of
  *     the corpus design), so pairs key on ids within a corpus
  *     fingerprint instead of content digests.
  *
  * Re-run after any TESTDATA regeneration:
  *
  *   sbt "runMain graft.tools.GenSeededTruth"
  */
object GenSeededTruth {

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  private def md5hex(s: String): String = md5hex(s.getBytes("UTF-8"))

  /** Spark round(col, 4) on DoubleType: HALF_UP over
    * BigDecimal.valueOf's canonical decimal form. */
  private def round4(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(4, RoundingMode.HALF_UP).doubleValue()

  /** Plain replica of HashExprs.CosineSim's evaluation order; NaN-free
    * inputs assumed (the fixture corpora). Returns None where the
    * expression returns null (zero norms). */
  private def cosine(a: Array[Double], b: Array[Double]): Option[Double] = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) None
    else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Plain replica of Ann.planes: seeded Gaussian hyperplanes. */
  private def planes(nPlanes: Int, dim: Int,
                     seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Plain replica of HashExprs.hyperplaneKernel. */
  private def bucketOf(v: Array[Double],
                       ps: Array[Array[Double]]): Int = {
    var bucket = 0
    var b = 0
    while (b < ps.length) {
      val p = ps(b)
      var dot = 0.0
      val n = math.min(v.length, p.length)
      var i = 0
      while (i < n) { dot += v(i) * p(i); i += 1 }
      if (dot >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  /** Expected `dedup_semantic` rows for one corpus: (emb_md5, cell,
    * rnk, cent_sim, keep) — the plain-loop walk of
    * Dedup.semdedupFlags(eps = 0.2) with its defaults. */
  private def semdedupTruth(rows: Array[(Long, Array[Double])])
      : Seq[(String, Int, Long, Double, Boolean)] = {
    val eps = 0.2
    val n = rows.length
    val k = math.max(4, math.min(4096, math.ceil(n / 128.0).toInt))
    val sampleN = math.min(math.max(2000, 4 * k), 65536)
    // sample order: md5("42:<id>") hex ascending, then id
    val sample = rows
      .sortBy { case (id, _) => (md5hex(s"42:$id"), id) }
      .take(sampleN).map(_._2)
    val cents = graft.operators.Ann.kmeans(sample,
      math.min(k, sample.length), iters = 10, seed = 42L)
    // nearest centroid by L2^2, ties to the smallest cell index (the
    // array_sort-over-(d, cell)-structs selection)
    def assign(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        val ct = cents(c)
        while (i < v.length) { val t = v(i) - ct(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val assigned = rows.map { case (id, v) =>
      val cell = assign(v)
      (id, v, cell, cosine(v, cents(cell)).getOrElse(Double.NaN))
    }
    val ranked = assigned.groupBy(_._3).iterator.flatMap {
      case (_, cellRows) =>
        cellRows.sortBy { case (id, _, _, sim) => (-sim, id) }
          .zipWithIndex
          .map { case ((id, v, cell, sim), i) =>
            (id, v, cell, sim, (i + 1).toLong) }
    }.toArray
    val dropped = scala.collection.mutable.Set.empty[Long]
    ranked.groupBy(_._3).values.foreach { cellRows =>
      val byRank = cellRows.sortBy(_._5)
      for (i <- byRank.indices; j <- (i + 1) until byRank.length)
        if (cosine(byRank(i)._2, byRank(j)._2).exists(_ >= eps))
          dropped += byRank(j)._1
    }
    val digest = rows.map { case (id, v) =>
      id -> md5hex(v.map(x =>
        math.floor(x * 1000000.0 + 0.5).toLong).mkString(","))
    }.toMap
    require(digest.values.toSet.size == rows.length,
      "embedding digests must be unique within the corpus — the " +
        "fixture join would fan out otherwise")
    ranked.map { case (id, _, cell, sim, rnk) =>
      (digest(id), cell, rnk, round4(sim), !dropped.contains(id))
    }.toSeq
  }

  /** Expected `media_near_dup` rows for one corpus: (id_a, id_b, sim) —
    * the plain-loop walk of Ann.cosinePairsLsh(threshold = 0.95,
    * tables = 16, seed = 42) over the extracted media features. */
  private def nearDupTruth(feats: Array[(Long, Array[Double])],
                           bits: Int): Seq[(Long, Long, Double)] = {
    val dim = feats.headOption.map(_._2.length).getOrElse(1)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until 16).foreach { t =>
      val ps = planes(bits, dim, 42L + t)
      feats.map { case (id, v) => (bucketOf(v, ps), id) }
        .groupBy(_._1).values.foreach { bucketRows =>
          val ids = bucketRows.map(_._2).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            pairs += ((ids(i), ids(j)))
        }
    }
    val byId = feats.toMap
    pairs.iterator.flatMap { case (a, b) =>
      cosine(byId(a), byId(b)).filter(_ >= 0.95)
        .map(sim => (a, b, round4(sim)))
    }.toSeq.sortBy(p => (p._1, p._2))
  }

  /** Spark round(col) on DoubleType (no scale): HALF_UP at scale 0. */
  private def round0(x: Double): Long =
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValue()

  /** Plain replica of Ann.kmeans' argmin assignment with the
    * array_sort-over-(d, cell)-structs tie rule (ties to the smallest
    * index). */
  private def nearestIdx(v: Array[Double],
                         cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      val ct = cents(c)
      val n = math.min(v.length, ct.length)
      while (i < n) { val t = v(i) - ct(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Plain replica of the pq/ivfPq unit-normalize (x/√Σx², zero
    * vectors pass through). */
  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The `nprobe` nearest cells ascending by (d², cell). */
  private def nearestCells(v: Array[Double], cents: Array[Array[Double]],
                           nprobe: Int): Seq[Int] =
    cents.indices.map(c => (l2sq(v, cents(c)), c))
      .sortBy(identity).take(nprobe).map(_._2)

  /** Expected `ann_knn_graph_lsh` rows: (vec_id, rank, sim_bp,
    * neighbor_id) — the plain walk of Ann.knnGraphLsh(k = 5,
    * bits = autoBits(n), tables = 16, seed = 42). */
  private def knnGraphLshTruth(rows: Array[(Long, Array[Double])])
      : Seq[(Long, Long, Long, Long)] = {
    val bits = graft.operators.Ann.autoBits(rows.length.toLong)
    val dim = rows.headOption.map(_._2.length).getOrElse(1)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until 16).foreach { t =>
      val ps = planes(bits, dim, 42L + t)
      rows.map { case (id, v) => (bucketOf(v, ps), id) }
        .groupBy(_._1).values.foreach { bucketRows =>
          val ids = bucketRows.map(_._2).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            pairs += ((ids(i), ids(j)))
        }
    }
    val byId = rows.toMap
    val scored = pairs.iterator.flatMap { case (a, b) =>
      cosine(byId(a), byId(b)).map(s => (a, b, round0(s * 10000)))
    }.toSeq
    // mirror into directed ends, top-5 per source by (sim_bp desc,
    // neighbor asc) — the topk_longs selection
    scored.flatMap { case (a, b, bp) => Seq((a, bp, b), (b, bp, a)) }
      .groupBy(_._1).toSeq.flatMap { case (src, es) =>
        es.sortBy { case (_, bp, dst) => (-bp, dst) }.take(5)
          .zipWithIndex.map { case ((_, bp, dst), i) =>
            (src, (i + 1).toLong, bp, dst) }
      }.sortBy(r => (r._1, r._2))
  }

  /** Expected `ann_knn_components_lsh` rows: (node, component) —
    * min-reachable-id components over the knn-LSH graph's
    * sim_bp >= 2000 edges (Dedup.components semantics: every edge
    * endpoint appears, component = smallest id in it). */
  private def componentsTruth(graph: Seq[(Long, Long, Long, Long)])
      : Seq[(Long, Long)] = {
    val edges = graph.collect {
      case (src, _, bp, dst) if bp >= 2000 => (src, dst) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      .map(n => (n, find(n)))
  }

  /** Expected `ann_ivf_topk` rows: (query_id, rank, cand_id, sim) —
    * the plain walk of Ann.ivfTopK(k = 5, nlist = 16, nprobe = 4,
    * sampleSize = 2000, iters = 10, seed = 42). */
  private def ivfTopKTruth(rows: Array[(Long, Array[Double])],
                           queryIds: Set[Long])
      : Seq[(Long, Int, Long, Double)] = {
    val sample = rows.sortBy(_._1).take(2000).map(_._2)
    val cents = graft.operators.Ann.kmeans(sample, 16, 10, 42L)
    val cellOf = rows.map { case (id, v) =>
      id -> nearestIdx(v, cents) }.toMap
    val byCell = rows.groupBy { case (id, _) => cellOf(id) }
    rows.filter(r => queryIds(r._1)).toSeq.flatMap { case (qid, qv) =>
      val cands = nearestCells(qv, cents, nprobe = 4)
        .flatMap(c => byCell.get(c).toSeq.flatten)
        .filter(_._1 != qid)
      cands.flatMap { case (cid, cv) =>
        cosine(qv, cv).map(s => (cid, s)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5)
        .zipWithIndex.map { case ((cid, s), i) =>
          (qid, i + 1, cid, round4(s)) }
    }.sortBy(r => (r._1, r._2))
  }

  /** Shared PQ scan: encode candidates against per-subspace codebooks,
    * ADC-shortlist k·rerank per query by (adist asc, cand asc), exact
    * cosine rerank to top-k on the ORIGINAL vectors. */
  private def pqScan(rows: Array[(Long, Array[Double])],
                     queryIds: Set[Long],
                     books: Array[Array[Array[Double]]], subd: Int,
                     candsOf: ((Long, Array[Double])) => Iterable[(Long, Array[Double])])
      : Seq[(Long, Int, Long, Double)] = {
    val m = books.length
    val byId = rows.toMap
    val codesOf = rows.map { case (id, v) =>
      val u = unit(v)
      id -> Array.tabulate(m)(s =>
        nearestIdx(u.slice(s * subd, (s + 1) * subd), books(s)))
    }.toMap
    rows.filter(r => queryIds(r._1)).toSeq.flatMap { case (qid, qv) =>
      val uq = unit(qv)
      val lut = Array.tabulate(m)(s =>
        books(s).map(cb => l2sq(uq.slice(s * subd, (s + 1) * subd), cb)))
      val shortlist = candsOf((qid, qv)).iterator
        .filter(_._1 != qid)
        .map { case (cid, _) =>
          val cds = codesOf(cid)
          var a = 0.0; var s = 0
          while (s < m) { a += lut(s)(cds(s)); s += 1 }
          (cid, a)
        }.toSeq.sortBy { case (cid, a) => (a, cid) }.take(5 * 8)
      shortlist.flatMap { case (cid, _) =>
        cosine(qv, byId(cid)).map(s => (cid, s)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5)
        .zipWithIndex.map { case ((cid, s), i) =>
          (qid, i + 1, cid, round4(s)) }
    }.sortBy(r => (r._1, r._2))
  }

  /** Expected `ann_pq_topk` rows — Ann.pqTopK(k = 5, m = 8,
    * codes = 16, rerank = 8, seed = 43): flat scan, unit-sample
    * codebooks. */
  private def pqTopKTruth(rows: Array[(Long, Array[Double])],
                          queryIds: Set[Long])
      : Seq[(Long, Int, Long, Double)] = {
    val sample = rows.sortBy(_._1).take(2000).map(r => unit(r._2))
    val dim = sample(0).length
    val subd = dim / 8
    val books = Array.tabulate(8)(s => graft.operators.Ann.kmeans(
      sample.map(_.slice(s * subd, (s + 1) * subd)), 16, 10, 43L + s))
    pqScan(rows, queryIds, books, subd, _ => rows)
  }

  /** Expected `ann_ivf_pq_topk` rows — Ann.ivfPqTopK(k = 5,
    * nlist = 16, nprobe = 4, m = 8, codes = 16, rerank = 8,
    * seed = 44): coarse cells on RAW vectors, PQ books on UNIT
    * vectors, ADC within the probed cells only. */
  private def ivfPqTopKTruth(rows: Array[(Long, Array[Double])],
                             queryIds: Set[Long])
      : Seq[(Long, Int, Long, Double)] = {
    val sampleRaw = rows.sortBy(_._1).take(2000).map(_._2)
    val dim = sampleRaw(0).length
    val subd = dim / 8
    val cents = graft.operators.Ann.kmeans(sampleRaw, 16, 10, 44L)
    val books = Array.tabulate(8)(s => graft.operators.Ann.kmeans(
      sampleRaw.map(unit).map(_.slice(s * subd, (s + 1) * subd)),
      16, 10, 44L + 1 + s))
    val cellOf = rows.map { case (id, v) =>
      id -> nearestIdx(v, cents) }.toMap
    val byCell = rows.groupBy { case (id, _) => cellOf(id) }
    pqScan(rows, queryIds, books, subd, { case (_, qv) =>
      nearestCells(qv, cents, nprobe = 4)
        .flatMap(c => byCell.get(c).toSeq.flatten)
    })
  }

  def main(args: Array[String]): Unit = {
    val semOut =
      if (args.length > 0) args(0) else "data/semdedup/expected.parquet"
    val ndOut =
      if (args.length > 1) args(1) else "data/medianeardup/expected.parquet"
    val spark = graft.GraftSession()
    import spark.implicits._

    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf")
      .filter(d => new java.io.File(s"$d/embeddings.parquet").exists())

    val semRows = sfs.flatMap { d =>
      val rows = graft.core.Tables.embeddings(spark, d)
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
        .as[(Long, Array[Double])].collect()
      semdedupTruth(rows)
    }
    // digests are disjoint across the driver SFs (asserted): one flat
    // fixture keyed by emb_md5 serves all three
    require(semRows.map(_._1).toSet.size == semRows.length,
      "embedding digests collide ACROSS corpora — key the fixture by " +
        "(corpus, digest) before regenerating")
    semRows.toDF("emb_md5", "cell", "rnk", "cent_sim", "keep")
      .coalesce(1).write.mode("overwrite").parquet(semOut)

    val ndRows = sfs.flatMap { d =>
      val docs = graft.core.Tables.documents(spark, d)
      val corpusMd5 = md5hex(
        docs.selectExpr("doc_id", "md5(CAST(text AS BINARY)) AS h")
          .as[(Long, String)].collect().sortBy(_._1)
          .map(_._2).mkString(","))
      implicit val sp: SparkSession = spark
      val feats = graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.asMedia(
            graft.operators.Multimodal.mediaFromDocuments(docs)))
        .toDF()
        .selectExpr("media_id", "CAST(feature AS array<double>) AS v")
        .as[(Long, Array[Double])].collect()
      val bits = graft.operators.Ann.autoBits(docs.count(),
        targetBucket = 16)
      nearDupTruth(feats, bits).map { case (a, b, sim) =>
        (corpusMd5, a, b, sim) }
    }
    ndRows.toDF("corpus_md5", "id_a", "id_b", "sim")
      .coalesce(1).write.mode("overwrite").parquet(ndOut)

    // the five remaining seeded ANN families, keyed per corpus by the
    // embeddings-table fingerprint (md5 of the comma-joined per-vector
    // micro-unit digests in vec_id order — ids AND contents)
    val annOutDir = if (args.length > 2) args(2) else "data/annseeded"
    val perSf = sfs.map { d =>
      val rows = graft.core.Tables.embeddings(spark, d)
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
        .as[(Long, Array[Double])].collect()
      val corpusMd5 = md5hex(rows.sortBy(_._1).map { case (_, v) =>
        md5hex(v.map(x =>
          math.floor(x * 1000000.0 + 0.5).toLong).mkString(","))
      }.mkString(","))
      val queryIds = rows.map(_._1)
        .filter(id => id % 50 == 0 && id < 2000).toSet
      (corpusMd5, rows, queryIds)
    }
    val knnRows = perSf.flatMap { case (cm, rows, _) =>
      knnGraphLshTruth(rows).map { case (a, b, c, dd) => (cm, a, b, c, dd) } }
    knnRows.toDF("corpus_md5", "vec_id", "rank", "sim_bp", "neighbor_id")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$annOutDir/knn_graph_lsh.parquet")
    perSf.flatMap { case (cm, rows, _) =>
      componentsTruth(knnGraphLshTruth(rows)).map { case (n, c) =>
        (cm, n, c) } }
      .toDF("corpus_md5", "node", "component")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$annOutDir/knn_components_lsh.parquet")
    def writeTopK(name: String,
                  truth: (Array[(Long, Array[Double])], Set[Long]) =>
                    Seq[(Long, Int, Long, Double)]): Int = {
      val out = perSf.flatMap { case (cm, rows, qs) =>
        truth(rows, qs).map { case (q, r, c, s) => (cm, q, r, c, s) } }
      out.toDF("corpus_md5", "query_id", "rank", "cand_id", "sim")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$annOutDir/$name.parquet")
      out.length
    }
    val nIvf = writeTopK("ivf_topk", ivfTopKTruth)
    val nPq = writeTopK("pq_topk", pqTopKTruth)
    val nIvfPq = writeTopK("ivf_pq_topk", ivfPqTopKTruth)

    println(s"[gen-seeded-truth] semdedup rows=${semRows.length} -> " +
      s"$semOut; near-dup pairs=${ndRows.length} -> $ndOut; " +
      s"knn_graph_lsh=${knnRows.length}, ivf=$nIvf, pq=$nPq, " +
      s"ivf_pq=$nIvfPq -> $annOutDir")
    spark.stop()
  }
}
