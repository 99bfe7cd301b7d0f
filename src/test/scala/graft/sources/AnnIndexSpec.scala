package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Ann
import graft.sources.AnnIndexStore.{Ivf, Pq, Sq8}
import graft.streaming.AnnIngest

/** ANN index lifecycle (AnnIndexStore over VersionedStore): build once,
  * persist versioned, load, serve; streaming assignments fold into new
  * exactly-once versions that serve identically to the batch index. */
class AnnIndexSpec extends SparkSpec {

  private def tmpStore(tag: String) = VersionedStore(
    java.nio.file.Files.createTempDirectory(s"ann_idx_$tag").toString)

  private def topkRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("persist -> load -> serve reproduces the inline det-IVF top-k " +
      "bit-for-bit") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("serve")
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    val v = Ivf.persist(spark, store, "ivf", built)
    v shouldBe 0L
    Ivf.versions(spark, store, "ivf") shouldBe Seq(0L)
    val loaded = Ivf.load(spark, store, "ivf")
    val served = topkRows(Ann.ivfIndexTopK(loaded, embs, "vec_id",
      "embedding", col("id") % 50 === 0, k = 5))
    val inline = topkRows(Ann.ivfDetTopK(embs, "vec_id", "embedding",
      "label", col("id") % 50 === 0, k = 5))
    served shouldBe inline
    // the loaded routing table IS the batch home-cell relation
    val home = loaded.home.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Ann.ivfDetHomeCells(embs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    home shouldBe batch
  }

  test("IVF-PQ: persist all four artifacts -> load -> serve reproduces " +
      "the inline det chain bit-for-bit; prunePq retains") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("pq")
    val built = Ann.buildDetIvfPqIndex(embs, "vec_id", "embedding",
      "label")
    Pq.persist(spark, store, "ivfpq", built) shouldBe 0L
    Pq.persist(spark, store, "ivfpq", built) shouldBe 1L
    Pq.prune(spark, store, "ivfpq", keep = 1)
    Pq.versions(spark, store, "ivfpq") shouldBe Seq(1L)
    val loaded = Pq.load(spark, store, "ivfpq")
    val served = topkRows(Ann.ivfPqIndexTopK(loaded, embs, "vec_id",
      "embedding", col("id") % 50 === 0, k = 5))
    val inline = topkRows(Ann.ivfPqDetTopK(embs, "vec_id", "embedding",
      "label", col("id") % 50 === 0, k = 5))
    served shouldBe inline
    // codes really are the compact payload: one row per vector, 8
    // codewords each
    loaded.codes.count() shouldBe embs.count()
    loaded.codes.selectExpr("max(size(codes))").collect()
      .head.getInt(0) shouldBe 8
  }

  test("SQ8: persist both artifacts -> load -> serve reproduces the " +
      "inline det chain bit-for-bit; pruneSq8 retains") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("sq8")
    val built = Ann.buildSq8Index(embs, "vec_id", "embedding")
    Sq8.persist(spark, store, "sq8", built) shouldBe 0L
    Sq8.persist(spark, store, "sq8", built) shouldBe 1L
    Sq8.prune(spark, store, "sq8", keep = 1)
    Sq8.versions(spark, store, "sq8") shouldBe Seq(1L)
    val loaded = Sq8.load(spark, store, "sq8")
    val served = topkRows(Ann.sq8IndexTopK(loaded, embs, "vec_id",
      "embedding", col("id") % 50 === 0, k = 5))
    val inline = topkRows(Ann.sq8DetTopK(embs, "vec_id", "embedding",
      col("id") % 50 === 0, k = 5))
    served shouldBe inline
    // the trained quantizer is corpus-size-free (one row per
    // dimension) and codes are the byte-per-coordinate payload
    loaded.ranges.count() shouldBe 64L
    loaded.codes.count() shouldBe embs.count()
    val codeBounds = loaded.codes
      .selectExpr("min(array_min(codes))", "max(array_max(codes))")
      .collect().head
    assert(codeBounds.getLong(0) >= 0L && codeBounds.getLong(1) <= 255L,
      s"SQ8 codes outside [0, 255]: $codeBounds")
  }

  test("versions auto-increment; load pins the newest complete one; " +
      "prune keeps the newest K") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("vers")
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    Ivf.persist(spark, store, "ivf", built) shouldBe 0L
    Ivf.persist(spark, store, "ivf", built) shouldBe 1L
    Ivf.persist(spark, store, "ivf", built) shouldBe 2L
    Ivf.versions(spark, store, "ivf") shouldBe Seq(0L, 1L, 2L)
    Ivf.prune(spark, store, "ivf", keep = 2)
    Ivf.versions(spark, store, "ivf") shouldBe Seq(1L, 2L)
    // a version missing one half is invisible (two-file commit safety)
    store.putVersion("ivf_home", 9L, built.home)
    Ivf.versions(spark, store, "ivf") shouldBe Seq(1L, 2L)
    val loaded = Ivf.load(spark, store, "ivf")
    loaded.home.count() shouldBe built.home.count()
  }

  test("commit marker: a version directory without its marker (a " +
      "writer died mid-write) is invisible and unreadable") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("marker")
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    store.putVersion("x", 0L, built.home)
    store.versions(spark, "x") shouldBe Seq(0L)
    // simulate the in-flight window: the directory exists, the data and
    // marker do not
    new java.io.File(s"${store.root}/x/version=1").mkdirs() shouldBe true
    store.versions(spark, "x") shouldBe Seq(0L)
    intercept[IllegalArgumentException](store.getVersion(spark, "x", 1L))
  }

  test("a reader pinned to version 0 is unaffected by a newer version " +
      "landing underneath it (consistent-snapshot serve)") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("pin")
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    Ivf.persistVersion(store, "ivf", 0L, built)
    val pinned = Ivf.loadVersion(spark, store, "ivf", 0L)
    val before = topkRows(Ann.ivfIndexTopK(pinned, embs, "vec_id",
      "embedding", col("id") % 50 === 0, k = 5))
    // a decoy newer version lands mid-stream: EMPTY routing table — a
    // reader that leaked to the newest version would return zero rows
    Ivf.persistVersion(store, "ivf", 1L,
      Ann.IvfIndexRelations(built.centroids, built.home.limit(0)))
    // re-executing the pinned handle re-reads version 0's files only
    topkRows(Ann.ivfIndexTopK(pinned, embs, "vec_id", "embedding",
      col("id") % 50 === 0, k = 5)) shouldBe before
    // while an unpinned newest-version reader does see the new version
    Ivf.load(spark, store, "ivf").home.count() shouldBe 0L
    before shouldBe topkRows(Ann.ivfDetTopK(embs, "vec_id", "embedding",
      "label", col("id") % 50 === 0, k = 5))
  }

  test("delta maintenance: chain reads equal the snapshot fold at " +
      "every version; compaction preserves the view and drops covered " +
      "deltas; the compacted chain serves identically") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("delta")
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    def homeSet(r: Ann.IvfIndexRelations) =
      r.home.collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    def batch(b: Long) = built.home.filter(col("cell") % 3 === b)
      .select(col("id").as("vec_id"), col("cell"))
    // the same three "triggers" fed to both maintenance modes
    (0L until 3L).foreach { b =>
      Ivf.foldBatch(store, "snap", -1L, built.centroids)(batch(b), b)
      Ivf.foldBatchDelta(store, "dlt", -1L, built.centroids)(batch(b), b)
    }
    (0L until 3L).foreach { v =>
      homeSet(Ivf.loadDeltaChain(spark, store, "dlt", v)) shouldBe
        homeSet(Ivf.loadVersion(spark, store, "snap", v))
    }
    // compact versions 0-1; version-2 delta stays; view unchanged
    Ivf.compact(spark, store, "dlt", upTo = 1L)
    Ivf.versions(spark, store, "dlt") shouldBe Seq(1L)
    Ivf.deltaVersions(spark, store, "dlt") shouldBe Seq(2L)
    homeSet(Ivf.loadChain(spark, store, "dlt")) shouldBe
      homeSet(Ivf.loadVersion(spark, store, "snap", 2L))
    // full compaction: pure snapshot read, still the same view
    Ivf.compact(spark, store, "dlt", upTo = 2L)
    Ivf.deltaVersions(spark, store, "dlt") shouldBe empty
    homeSet(Ivf.loadChain(spark, store, "dlt")) shouldBe
      homeSet(Ivf.load(spark, store, "snap"))
    // and the compacted chain SERVES identically to the inline chain
    topkRows(Ann.ivfIndexTopK(Ivf.loadChain(spark, store,
      "dlt"), embs, "vec_id", "embedding", col("id") % 50 === 0,
      k = 5)) shouldBe
      topkRows(Ann.ivfDetTopK(embs, "vec_id", "embedding", "label",
        col("id") % 50 === 0, k = 5))
  }

  test("IVF-PQ delta maintenance: chain reads equal the snapshot fold " +
      "at every version; compaction preserves the view, drops covered " +
      "deltas, and the compacted chain serves identically") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("pqdelta")
    val built = Ann.buildDetIvfPqIndex(embs, "vec_id", "embedding",
      "label")
    val full = built.ivf.home
      .join(built.codes.withColumnRenamed("id", "cid"),
        col("id") === col("cid"))
      .select(col("id").as("vec_id"), col("cell"), col("codes"))
      .localCheckpoint(true)
    def batch(b: Long) = full.filter(col("vec_id") % 3 === b)
    def view(r: Ann.IvfPqIndexRelations) =
      (r.ivf.home.collect().map(x => x.getLong(0) -> x.getLong(1)).toSet,
       r.codes.collect()
         .map(x => x.getLong(0) -> x.getSeq[Long](1).toList).toSet)
    // the same three "triggers" fed to both maintenance modes
    (0L until 3L).foreach { b =>
      Pq.foldBatch(store, "snap", -1L, built.codebook,
        built.ivf.centroids)(batch(b), b)
      Pq.foldBatchDelta(store, "dlt", -1L, built.codebook,
        built.ivf.centroids)(batch(b), b)
    }
    (0L until 3L).foreach { v =>
      view(Pq.loadDeltaChain(spark, store, "dlt", v)) shouldBe
        view(loadPqVersion(store, "snap", v))
    }
    // compact versions 0-1; version-2 deltas stay; view unchanged
    Pq.compact(spark, store, "dlt", upTo = 1L)
    Pq.versions(spark, store, "dlt") shouldBe Seq(1L)
    Pq.deltaVersions(spark, store, "dlt") shouldBe Seq(2L)
    view(Pq.loadChain(spark, store, "dlt")) shouldBe
      view(loadPqVersion(store, "snap", 2L))
    // full compaction: pure snapshot read, still the same view, and the
    // compacted chain SERVES identically to the inline det chain
    Pq.compact(spark, store, "dlt", upTo = 2L)
    Pq.deltaVersions(spark, store, "dlt") shouldBe empty
    view(Pq.loadChain(spark, store, "dlt")) shouldBe
      view(Pq.load(spark, store, "snap"))
    topkRows(Ann.ivfPqIndexTopK(Pq.loadChain(spark, store,
      "dlt"), embs, "vec_id", "embedding", col("id") % 50 === 0,
      k = 5)) shouldBe
      topkRows(Ann.ivfPqDetTopK(embs, "vec_id", "embedding", "label",
        col("id") % 50 === 0, k = 5))
  }

  private def loadPqVersion(store: VersionedStore, name: String,
                            v: Long): Ann.IvfPqIndexRelations =
    Ann.IvfPqIndexRelations(Ann.IvfIndexRelations(
        store.getVersion(spark, s"${name}_centroids", v),
        store.getVersion(spark, s"${name}_home", v)),
      store.getVersion(spark, s"${name}_codebook", v),
      store.getVersion(spark, s"${name}_pqcodes", v))

  test("SQ8 delta maintenance: chain reads equal the snapshot fold at " +
      "every version; compaction preserves the view, drops covered " +
      "deltas, and the compacted chain serves identically") {
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore("sq8delta")
    val built = Ann.buildSq8Index(embs, "vec_id", "embedding")
    val full = built.codes
      .select(col("id").as("vec_id"), col("codes")).localCheckpoint(true)
    def batch(b: Long) = full.filter(col("vec_id") % 3 === b)
    def codeSet(r: Ann.Sq8IndexRelations) = r.codes.collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](1).toList).toSet
    (0L until 3L).foreach { b =>
      Sq8.foldBatch(store, "snap", -1L, built.ranges)(batch(b), b)
      Sq8.foldBatchDelta(store, "dlt", -1L, built.ranges)(batch(b), b)
    }
    (0L until 3L).foreach { v =>
      codeSet(Sq8.loadDeltaChain(spark, store, "dlt", v)) shouldBe
        codeSet(Ann.Sq8IndexRelations(
          store.getVersion(spark, "snap_ranges", v),
          store.getVersion(spark, "snap_sq8codes", v)))
    }
    Sq8.compact(spark, store, "dlt", upTo = 1L)
    Sq8.versions(spark, store, "dlt") shouldBe Seq(1L)
    Sq8.deltaVersions(spark, store, "dlt") shouldBe Seq(2L)
    codeSet(Sq8.loadChain(spark, store, "dlt")) shouldBe
      codeSet(Sq8.load(spark, store, "snap"))
    Sq8.compact(spark, store, "dlt", upTo = 2L)
    Sq8.deltaVersions(spark, store, "dlt") shouldBe empty
    topkRows(Ann.sq8IndexTopK(Sq8.loadChain(spark, store,
      "dlt"), embs, "vec_id", "embedding", col("id") % 50 === 0,
      k = 5)) shouldBe
      topkRows(Ann.sq8DetTopK(embs, "vec_id", "embedding",
        col("id") % 50 === 0, k = 5))
  }

  /** Stream the embeddings in 5 triggers through `start` (a compacting
    * delta ingest into `name`) and check, after EVERY trigger, the
    * invariant compaction buys — each per-vector chain's reconstruction
    * fan-in stays <= compactEvery + 1 parts, however the engine slices
    * micro-batches (watermark-advance triggers interleave empty
    * batches) — and that at every point mid-stream, including right
    * after a compaction, the chain serves exactly what a batch index
    * over the so-far-ingested rows serves (`restricted`). */
  private def compactingIngest[R](family: AnnIndexStore.Family[R],
      name: String, chains: Seq[String], compactEvery: Int,
      start: (Dataset[AnnIngest.VecIn], Ann.IvfIndexRelations,
        VersionedStore, String) => StreamingQuery,
      restricted: Set[Long] => R, serve: R => Seq[(Long, Long, Long, Long)],
      inline: Seq[(Long, Long, Long, Long)]): Unit = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val store = tmpStore(name)
    val index = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    val rows = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val parts = rows.grouped(rows.length / 5 + 1).toSeq // 5 triggers
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)
    def fanIn(chain: String): Int = {
      val (base, delta) = (s"${name}_$chain", s"${name}_${chain}_delta")
      val vs = DeltaChain.versions(spark, store, base, delta)
      DeltaChain.readParts(spark, store, base, delta, vs.last).length
    }
    val in = MemoryStream[AnnIngest.VecIn]
    val q = start(in.toDS(), index, store,
      java.nio.file.Files.createTempDirectory(s"ann_${name}_ck").toString)
    try {
      var off = 0
      parts.zipWithIndex.foreach { case (part, b) =>
        in.addData(part.zipWithIndex.map { case ((id, v), i) =>
          AnnIngest.VecIn(id, ts(off + i), v) }.toSeq)
        q.processAllAvailable()
        off += part.length
        chains.foreach(c =>
          withClue(c)(fanIn(c) should be <= (compactEvery + 1)))
        serve(family.loadChain(spark, store, name)) shouldBe
          serve(restricted(parts.take(b + 1).flatten.map(_._1).toSet))
      }
    } finally q.stop()
    // compactions landed mid-stream: snapshots exist and the trailing
    // delta count is bounded by the compaction period
    family.versions(spark, store, name) should not be empty
    family.deltaVersions(spark, store, name).size should be <= compactEvery
    // fully ingested: the chain serves identically to the inline index
    serve(family.loadChain(spark, store, name)) shouldBe inline
  }

  private def probe = col("id") % 50 === 0

  test("streaming delta ingest with periodic compaction: the " +
      "reconstruction fan-in stays bounded (<= compactEvery + 1 " +
      "parts), and serving right after a MID-STREAM compaction equals " +
      "the batch index over the same ingested rows") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val embs = Tables.embeddings(spark, sfDir)
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    compactingIngest[Ann.IvfIndexRelations](Ivf, "ivfc", Seq("home"),
      compactEvery = 2,
      (vecs, index, store, ckpt) => AnnIngest.startFoldDelta(vecs, index,
        store, "ivfc", ckpt, lateness = "10 minutes", compactEvery = 2),
      ids => Ann.IvfIndexRelations(built.centroids,
        built.home.filter(col("id").isInCollection(ids))),
      r => topkRows(Ann.ivfIndexTopK(r, embs, "vec_id", "embedding", probe,
        k = 5)),
      topkRows(Ann.ivfDetTopK(embs, "vec_id", "embedding", "label", probe,
        k = 5)))
  }

  /** A compacting fold driven by a stream of its own: assignCells
    * routes and watermark-dedups the vectors (so empty watermark-
    * advance batches reach the fold), and each micro-batch's ids pick
    * up the family's precomputed per-vector `rows`. */
  private def foldStream[R](family: AnnIndexStore.Family[R], name: String,
      rows: DataFrame, quantizer: Seq[DataFrame], compactEvery: Int)(
      vecs: Dataset[AnnIngest.VecIn], index: Ann.IvfIndexRelations,
      store: VersionedStore, ckpt: String): StreamingQuery =
    AnnIngest.assignCells(vecs, index, lateness = "10 minutes")(spark)
      .toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        family.foldBatchDeltaCompacting(store, name, -1L, compactEvery,
          quantizer: _*)(batch.select("vec_id").join(rows, "vec_id"),
          batchId)
      }
      .start()

  test("streaming delta ingest with periodic compaction, IVF-PQ: both " +
      "per-vector chains stay bounded and serve like the batch index " +
      "mid-stream and at the end") {
    val embs = Tables.embeddings(spark, sfDir)
    val built = Ann.buildDetIvfPqIndex(embs, "vec_id", "embedding",
      "label")
    val rows = built.ivf.home
      .join(built.codes.withColumnRenamed("id", "cid"),
        col("id") === col("cid"))
      .select(col("id").as("vec_id"), col("cell"), col("codes"))
      .localCheckpoint(true)
    val q = Seq(built.codebook, built.ivf.centroids)
    compactingIngest[Ann.IvfPqIndexRelations](Pq, "pqc",
      Seq("home", "pqcodes"), compactEvery = 2,
      foldStream(Pq, "pqc", rows, q, compactEvery = 2),
      ids => built.copy(
        ivf = built.ivf.copy(
          home = built.ivf.home.filter(col("id").isInCollection(ids))),
        codes = built.codes.filter(col("id").isInCollection(ids))),
      r => topkRows(Ann.ivfPqIndexTopK(r, embs, "vec_id", "embedding",
        probe, k = 5)),
      topkRows(Ann.ivfPqDetTopK(embs, "vec_id", "embedding", "label",
        probe, k = 5)))
  }

  test("streaming delta ingest with periodic compaction, SQ8: the code " +
      "chain stays bounded and serves like the batch index mid-stream " +
      "and at the end") {
    val embs = Tables.embeddings(spark, sfDir)
    val built = Ann.buildSq8Index(embs, "vec_id", "embedding")
    val rows = built.codes.select(col("id").as("vec_id"), col("codes"))
      .localCheckpoint(true)
    compactingIngest[Ann.Sq8IndexRelations](Sq8, "sqc", Seq("sq8codes"),
      compactEvery = 2,
      foldStream(Sq8, "sqc", rows, Seq(built.ranges), compactEvery = 2),
      ids => built.copy(codes =
        built.codes.filter(col("id").isInCollection(ids))),
      r => topkRows(Ann.sq8IndexTopK(r, embs, "vec_id", "embedding", probe,
        k = 5)),
      topkRows(Ann.sq8DetTopK(embs, "vec_id", "embedding", probe, k = 5)))
  }

  test("a re-ingested id with a CHANGED payload reads latest-version-" +
      "wins: chain reads, compaction, and post-compaction deltas all " +
      "keep exactly one (the newest) row per id") {
    import spark.implicits._
    val store = tmpStore("reingest")
    val cent = spark.range(4)
      .selectExpr("id AS cell", "id % 2 AS dim", "id * 10 AS ci")
    def homeDf(pairs: (Long, Long)*) =
      pairs.toSeq.toDF("vec_id", "cell")
    def homes() = Ivf.loadChain(spark, store, "r").home
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // trigger 0: ids 0..9; trigger 1 RE-INGESTS id 3 into a new cell
    // (legal beyond the streaming lateness horizon — the watermark
    // dedup only suppresses replays inside it)
    Ivf.foldBatchDelta(store, "r", -1L, cent)(
      homeDf((0L until 10L).map(i => (i, i % 4)): _*), 0L)
    Ivf.foldBatchDelta(store, "r", -1L, cent)(
      homeDf((3L, 2L)), 1L)
    homes().length shouldBe 10 // one row per id, not distinct()'s 11
    homes().toMap.apply(3L) shouldBe 2L // the newer assignment won
    // compaction bakes the WINNER into the snapshot, not both rows
    Ivf.compact(spark, store, "r", upTo = 1L)
    homes().length shouldBe 10
    homes().toMap.apply(3L) shouldBe 2L
    // a post-compaction delta supersedes the snapshot row too
    Ivf.foldBatchDelta(store, "r", -1L, cent)(
      homeDf((3L, 0L)), 2L)
    homes().length shouldBe 10
    homes().toMap.apply(3L) shouldBe 0L
    // same contract on the IVF-PQ code chain: the re-encoded codes win
    def codesDf(rows: (Long, Seq[Long])*) =
      rows.toSeq.toDF("vec_id", "codes")
        .withColumn("cell", col("vec_id") % 4)
        .select("vec_id", "cell", "codes")
    val cb = spark.range(8).selectExpr("id % 4 AS cw", "id DIV 4 AS j",
      "id % 2 AS dim", "id AS ci")
    Pq.foldBatchDelta(store, "rpq", -1L, cb, cent)(
      codesDf((1L, Seq(1L, 2L)), (2L, Seq(3L, 4L))), 0L)
    Pq.foldBatchDelta(store, "rpq", -1L, cb, cent)(
      codesDf((1L, Seq(2L, 1L))), 1L)
    val pq = Pq.loadChain(spark, store, "rpq")
    val codeRows = pq.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toSeq
    codeRows.length shouldBe 2
    codeRows.toMap.apply(1L) shouldBe List(2L, 1L)
  }

  test("SNAPSHOT-mode folds apply the same latest-wins contract: an id " +
      "re-ingested with a changed payload keeps only the batch's row " +
      "in all three families") {
    import spark.implicits._
    val store = tmpStore("reingest_snap")
    val cent = spark.range(4)
      .selectExpr("id AS cell", "id % 2 AS dim", "id * 10 AS ci")
    def homeDf(pairs: (Long, Long)*) =
      pairs.toSeq.toDF("vec_id", "cell")
    // IVF: trigger 1 re-routes id 3 — the full-snapshot rewrite must
    // carry the NEW row only (distinct() kept both, giving one
    // candidate two TopK slots through its stale routing row)
    Ivf.foldBatch(store, "s", -1L, cent)(
      homeDf((0L until 10L).map(i => (i, i % 4)): _*), 0L)
    Ivf.foldBatch(store, "s", -1L, cent)(
      homeDf((3L, 2L)), 1L)
    val sHome = Ivf.load(spark, store, "s").home.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    sHome.length shouldBe 10
    sHome.toMap.apply(3L) shouldBe 2L
    // IVF-PQ: both per-vector relations (routing AND codes) supersede
    val cb = spark.range(8).selectExpr("id % 4 AS cw", "id DIV 4 AS j",
      "id % 2 AS dim", "id AS ci")
    def pqBatch(rows: (Long, Long, Seq[Long])*) =
      rows.toSeq.toDF("vec_id", "cell", "codes")
    Pq.foldBatch(store, "spq", -1L, cb, cent)(
      pqBatch((1L, 1L, Seq(1L, 2L)), (2L, 2L, Seq(3L, 4L))), 0L)
    Pq.foldBatch(store, "spq", -1L, cb, cent)(
      pqBatch((1L, 3L, Seq(2L, 1L))), 1L)
    val spq = Pq.load(spark, store, "spq")
    val spqHome = spq.ivf.home.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    spqHome.length shouldBe 2
    spqHome.toMap.apply(1L) shouldBe 3L
    val spqCodes = spq.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList)
    spqCodes.length shouldBe 2
    spqCodes.toMap.apply(1L) shouldBe List(2L, 1L)
    // SQ8: re-encoded byte codes win
    val ranges = spark.range(2)
      .selectExpr("id AS dim", "0L AS lo", "100L AS scl")
    def sq8Batch(rows: (Long, Seq[Long])*) =
      rows.toSeq.toDF("vec_id", "codes")
    Sq8.foldBatch(store, "ssq", -1L, ranges)(
      sq8Batch((1L, Seq(10L, 20L)), (2L, Seq(30L, 40L))), 0L)
    Sq8.foldBatch(store, "ssq", -1L, ranges)(
      sq8Batch((1L, Seq(20L, 10L))), 1L)
    val ssq = Sq8.load(spark, store, "ssq").codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList)
    ssq.length shouldBe 2
    ssq.toMap.apply(1L) shouldBe List(20L, 10L)
  }

  test("one store name can serve the PQ and SQ8 families side by side: " +
      "family-distinct base names keep the version sets disjoint") {
    import spark.implicits._
    val store = tmpStore("famsplit")
    val cent = spark.range(4)
      .selectExpr("id AS cell", "id % 2 AS dim", "id * 10 AS ci")
    val cb = spark.range(8).selectExpr("id % 4 AS cw", "id DIV 4 AS j",
      "id % 2 AS dim", "id AS ci")
    val ranges = spark.range(2)
      .selectExpr("id AS dim", "0L AS lo", "100L AS scl")
    // the SAME index name for both families — before the r15 base-name
    // split, both snapshot code relations were "<name>_codes" and the
    // SQ8 version listing would see the PQ write (and vice versa)
    Pq.foldBatch(store, "ix", -1L, cb, cent)(
      Seq((1L, 1L, Seq(1L, 2L))).toDF("vec_id", "cell", "codes"), 0L)
    Sq8.versions(spark, store, "ix") shouldBe empty
    Sq8.foldBatch(store, "ix", -1L, ranges)(
      Seq((7L, Seq(10L, 20L))).toDF("vec_id", "codes"), 0L)
    // each family reads back ONLY its own codes
    val pqCodes = Pq.load(spark, store, "ix").codes
      .collect().map(_.getLong(0)).toSet
    val sqCodes = Sq8.load(spark, store, "ix").codes
      .collect().map(_.getLong(0)).toSet
    pqCodes shouldBe Set(1L)
    sqCodes shouldBe Set(7L)
  }

  /** A family over a tiny hand-made quantizer. `batch` turns (id, p)
    * pairs into a fold batch whose payload encodes p (cell = p, codes =
    * [p, p + 1]); `seeds` reads each per-vector relation of a view back
    * as id -> p. `full` and `deltas` are the family's relation suffixes:
    * a full version's in write order, and its delta chains. */
  private final class Tiny[R](val family: AnnIndexStore.Family[R],
      val full: Seq[String], val deltas: Seq[String],
      quantizer: Seq[DataFrame], batch: Seq[(Long, Long)] => DataFrame,
      seeds: R => Seq[Map[Long, Long]]) {
    def foldDelta(store: VersionedStore, name: String, b: Long,
                  in: (Long, Long)*): Unit =
      family.foldBatchDelta(store, name, -1L, quantizer: _*)(batch(in), b)
    def foldCompacting(store: VersionedStore, name: String, every: Int,
                       b: Long, in: (Long, Long)*): Unit =
      family.foldBatchDeltaCompacting(store, name, -1L, every,
        quantizer: _*)(batch(in), b)
    def chain(store: VersionedStore, name: String): Seq[Map[Long, Long]] =
      seeds(family.loadChain(spark, store, name))
  }

  private def tiny(label: String): Tiny[_] = {
    import spark.implicits._
    val cent = spark.range(4)
      .selectExpr("id AS cell", "id % 2 AS dim", "id * 10 AS ci")
    val cb = spark.range(8).selectExpr("id % 4 AS cw", "id DIV 4 AS j",
      "id % 2 AS dim", "id AS ci")
    val ranges = spark.range(2)
      .selectExpr("id AS dim", "0L AS lo", "100L AS scl")
    def in(rows: Seq[(Long, Long)]) = rows.toDF("vec_id", "p")
    val codes = array(col("p"), col("p") + 1).as("codes")
    def cells(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def heads(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).head).toMap
    label match {
      case "IVF" => new Tiny[Ann.IvfIndexRelations](Ivf,
        Seq("home", "centroids"), Seq("home_delta"), Seq(cent),
        in(_).select(col("vec_id"), col("p").as("cell")),
        r => Seq(cells(r.home)))
      case "IVF-PQ" => new Tiny[Ann.IvfPqIndexRelations](Pq,
        Seq("home", "pqcodes", "codebook", "centroids"),
        Seq("home_delta", "pqcodes_delta"), Seq(cb, cent),
        in(_).select(col("vec_id"), col("p").as("cell"), codes),
        r => Seq(cells(r.ivf.home), heads(r.codes)))
      case "SQ8" => new Tiny[Ann.Sq8IndexRelations](Sq8,
        Seq("sq8codes", "ranges"), Seq("sq8codes_delta"),
        Seq(ranges), in(_).select(col("vec_id"), codes),
        r => Seq(heads(r.codes)))
    }
  }

  // the IVF chain's case is the re-ingested-id test above
  for (label <- Seq("IVF-PQ", "SQ8"))
    test(s"$label delta chain: a re-ingested id reads latest-version-" +
        "wins through chain reads, compaction and post-compaction " +
        "deltas") {
      val f = tiny(label)
      val store = tmpStore("reingest_chain")
      def newest(p: Long) = f.chain(store, "r").foreach { m =>
        m.size shouldBe 10 // one row per id, not distinct()'s 11
        m(3L) shouldBe p
      }
      // trigger 1 RE-INGESTS id 3 with a new payload
      f.foldDelta(store, "r", 0L, (0L until 10L).map(i => (i, i % 4)): _*)
      f.foldDelta(store, "r", 1L, (3L, 7L))
      newest(7L)
      // compaction bakes the WINNER into the snapshot, not both rows
      f.family.compact(spark, store, "r", upTo = 1L)
      newest(7L)
      // a post-compaction delta supersedes the snapshot row too
      f.foldDelta(store, "r", 2L, (3L, 5L))
      newest(5L)
    }

  for (label <- Seq("IVF", "IVF-PQ", "SQ8"))
    test(s"$label compacting fold: empty batches write no version, " +
        "compaction lands at the newest complete chain version, and the " +
        "relation names, versions and write order are the store layout") {
      val f = tiny(label)
      val store = tmpStore("compacting")
      f.foldCompacting(store, "c", 2, 0L, (0L, 1L), (1L, 2L))
      // write order: delta halves first, the completeness marker last
      val marked = (f.deltas ++ f.full.drop(f.deltas.size)).map { r =>
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(
          store.root, s"c_$r", "version=0", VersionedStore.CommitMarker))
          .to(java.util.concurrent.TimeUnit.MICROSECONDS)
      }
      marked shouldBe marked.sorted
      marked.distinct.size shouldBe marked.size
      // batch 1 is empty: no version 1; (1 + 1) % 2 == 0 compacts at 0
      f.foldCompacting(store, "c", 2, 1L)
      f.family.versions(spark, store, "c") shouldBe Seq(0L)
      f.family.deltaVersions(spark, store, "c") shouldBe empty
      // version = baseVersion + 1 + batchId, re-ingesting id 1
      f.foldCompacting(store, "c", 2, 2L, (1L, 3L), (2L, 0L))
      f.family.deltaVersions(spark, store, "c") shouldBe Seq(2L)
      f.family.chainVersions(spark, store, "c") shouldBe Seq(0L, 2L)
      f.foldCompacting(store, "c", 2, 3L)
      f.family.versions(spark, store, "c") shouldBe Seq(0L, 2L)
      f.family.deltaVersions(spark, store, "c") shouldBe empty
      f.chain(store, "c").foreach(_ shouldBe Map(0L -> 1L, 1L -> 3L, 2L -> 0L))
      store.ls(spark) shouldBe (f.full ++ f.deltas).map("c_" + _).sorted
      f.full.foreach { r =>
        withClue(r)(store.versions(spark, s"c_$r") shouldBe Seq(0L, 2L))
      }
      f.deltas.foreach(r => store.versions(spark, s"c_$r") shouldBe empty)
    }

  test("streaming assignments fold into exactly-once index versions " +
      "and the folded newest version serves identically to the batch " +
      "index") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val built = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    // the ingest collects its plane from the quantizer RELATION, as a
    // loaded index does — the load-once, ship-as-metadata path (never
    // rebuilt per batch)
    val store = tmpStore("fold")
    val index = Ann.IvfIndexRelations(built.centroids, built.home)
    val rows = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val (half1, half2) = rows.splitAt(rows.length / 2)
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)

    val in = MemoryStream[AnnIngest.VecIn]
    val ckpt = java.nio.file.Files.createTempDirectory("ann_fold_ck")
    val q = AnnIngest.assignCells(in.toDS(), index, lateness = "10 minutes")
      .toDF().writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ivf.foldBatch(store, "ivf", -1L, built.centroids)(batch, batchId)
      }
      .start()
    try {
      in.addData(half1.zipWithIndex.map { case ((id, v), i) =>
        AnnIngest.VecIn(id, ts(i), v) }.toSeq)
      q.processAllAvailable()
      val midVersions = Ivf.versions(spark, store, "ivf")
      midVersions should not be empty
      // second batch arrives WITH a re-delivery of a first-half id —
      // the folded relation must still hold exactly one row per vector
      in.addData((half2 :+ half1.head).zipWithIndex.map { case ((id, v), i) =>
        AnnIngest.VecIn(id, ts(half1.length + i), v) }.toSeq)
      q.processAllAvailable()
      Ivf.versions(spark, store, "ivf").size should be >
        midVersions.size
    } finally q.stop()

    val folded = Ivf.load(spark, store, "ivf")
    val foldedHome = folded.home.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchHome = Ann.ivfDetHomeCells(embs, "vec_id", "embedding",
      "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    foldedHome.size shouldBe rows.length // exactly once per vector
    foldedHome shouldBe batchHome
    // and the folded version SERVES: same top-k as the inline chain
    val served = topkRows(Ann.ivfIndexTopK(folded, embs, "vec_id",
      "embedding", col("id") % 50 === 0, k = 5))
    val inline = topkRows(Ann.ivfDetTopK(embs, "vec_id", "embedding",
      "label", col("id") % 50 === 0, k = 5))
    served shouldBe inline
  }
}
