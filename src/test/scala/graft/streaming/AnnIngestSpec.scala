package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Ann

/** Streaming ANN ingest and search against a static det-IVF index
  * (AnnIngest.assignCells, AnnIngest.probeTopK). */
class AnnIngestSpec extends SparkSpec {

  private def ts(i: Int): Timestamp = new Timestamp(86400000L + i * 1000L)

  /** A hand-made det-IVF index: integer micro-unit centroid coordinates
    * per cell, and the routing table's (id, cell) rows. */
  private def indexOf(cells: Seq[(Long, Seq[Long])],
                      home: Seq[(Long, Long)] = Nil): Ann.IvfIndexRelations = {
    import spark.implicits._
    Ann.IvfIndexRelations(
      cells.flatMap { case (c, ci) =>
        ci.zipWithIndex.map { case (x, d) => (c, d, x) } }
        .toDF("cell", "dim", "ci"),
      home.toDF("id", "cell"))
  }

  test("stream cell assignment agrees with the batch det-IVF home " +
      "cells on the whole sf corpus") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val index = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    assert(index.plane.cells.length > 1, "expected a multi-cell plane")
    val batch = Ann.ivfDetHomeCells(embs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val rows = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.assignCells(in.toDS(), index, lateness = "10 minutes")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("ann_ingest").start()
    try {
      in.addData(rows.zipWithIndex.map { case ((id, v), i) =>
        AnnIngest.VecIn(id, ts(i), v)
      }.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ann_ingest").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    streamed.size shouldBe batch.size
    // every vector routed to exactly the batch index's home cell
    streamed.foreach { case (id, cell) => cell shouldBe batch(id) }
  }

  test("streaming probeTopK returns exactly the batch det-IVF top-k " +
      "for every arriving query, even when every query is re-delivered") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val index = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    val batch = Ann.ivfDetTopK(embs, "vec_id", "embedding", "label",
        col("id") % 50 === 0, k = 5, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

    val queries = embs.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.probeTopK(in.toDS(), index, embs, "vec_id",
        "embedding", k = 5, nprobe = 2, lateness = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("ann_probe").start()
    try {
      // all queries in one event-time window, then a far-future flush
      // advances the watermark past it so append emits the results.
      // EVERY query is delivered twice (at-least-once transport): the
      // pair-level dedup must collapse the duplicates, or the doubled
      // candidate rows would seat one candidate in multiple top-k
      // slots and the batch-equality assertion below would fail
      in.addData(queries.map { case (id, v) =>
        AnnIngest.VecIn(id, ts(0), v)
      }.toSeq)
      q.processAllAvailable()
      in.addData(queries.map { case (id, v) =>
        AnnIngest.VecIn(id, ts(1), v)
      }.toSeq)
      q.processAllAvailable()
      in.addData(AnnIngest.VecIn(-1L, new Timestamp(86400000L * 30),
        queries.head._2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ann_probe")
      .filter(col("query_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    streamed.size shouldBe batch.size
    streamed.foreach { case (key, v) => v shouldBe batch(key) }
  }

  test("probe-key contract: a DIFFERENT query reusing a recent " +
      "query_id inside the lateness horizon collapses into the FIRST " +
      "query's results; reuse beyond the horizon serves normally") {
    // The documented probeTopK contract (AnnIngest.scala): the
    // exactly-once pair dedup keeps the FIRST-seen delivery of each
    // (query_id, cand_id), so an id recycled for a NEW vector within
    // `lateness` has its pairs silently dropped — callers minting ids
    // from a sequence/UUID are safe; recyclers must keep the recycle
    // interval above lateness. This pins the behavior on both sides of
    // the horizon.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val index = indexOf(Seq(1L -> Seq(1000000L, 1000000L)),
      Seq(100L -> 1L, 101L -> 1L))
    val corpus = Seq((100L, Seq(1.0, 0.0)), (101L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.probeTopK(in.toDS(), index, corpus, "vec_id",
        "embedding", k = 1, nprobe = 1, windowLen = "1 minute",
        lateness = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("ann_probe_reuse").start()
    val minute = 60000L
    def at(ms: Long) = new Timestamp(86400000L + ms)
    try {
      // query A: id 7, vector [1, 0] -> nearest candidate 100
      in.addData(AnnIngest.VecIn(7L, at(0), Array(1f, 0f)))
      q.processAllAvailable()
      // a DIFFERENT query reuses id 7 INSIDE the horizon with vector
      // [0, 1] (nearest would be 101) — its pairs collapse into A's
      in.addData(AnnIngest.VecIn(7L, at(1000), Array(0f, 1f)))
      q.processAllAvailable()
      // advance the watermark far past A's window + lateness
      in.addData(AnnIngest.VecIn(-1L, at(10 * minute), Array(1f, 1f)))
      q.processAllAvailable()
      // reuse id 7 BEYOND the horizon: a fresh window, fresh dedup
      // state — served normally as its own query
      in.addData(AnnIngest.VecIn(7L, at(11 * minute), Array(0f, 1f)))
      in.addData(AnnIngest.VecIn(-1L, at(30 * minute), Array(1f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ann_probe_reuse")
      .filter(col("query_id") === 7L).collect()
      .map(r => r.getLong(2)).toSeq
    // exactly two emissions for id 7: the in-horizon reuse produced NO
    // second result (collapsed into A -> candidate 100); the
    // beyond-horizon reuse served its own vector (-> candidate 101)
    got shouldBe Seq(100L, 101L)
  }

  test("re-delivered vector ids inside the lateness horizon are " +
      "ingested exactly once") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val index = indexOf(Seq(1L -> Seq(1000000L, 0L),
      2L -> Seq(0L, 1000000L)))
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.assignCells(in.toDS(), index, "10 minutes")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("ann_ingest_dedup").start()
    try {
      in.addData(
        AnnIngest.VecIn(7L, ts(0), Array(1f, 0f)),
        AnnIngest.VecIn(7L, ts(1), Array(1f, 0f)))
      q.processAllAvailable()
      in.addData(AnnIngest.VecIn(7L, ts(2), Array(0f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    val once = spark.table("ann_ingest_dedup").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2)))
    once.length shouldBe 1
    once.head shouldBe ((7L, 1L))
  }

  test("assignment semantics: zero vector and exact ties route to the " +
      "smallest cell") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val index = indexOf(Seq(5L -> Seq(1000000L, 1000000L),
      3L -> Seq(1000000L, 1000000L)))
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.assignCells(in.toDS(), index, "10 minutes")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("ann_ingest_ties").start()
    try {
      in.addData(
        AnnIngest.VecIn(1L, ts(0), Array(0f, 0f)), // zero vector
        AnnIngest.VecIn(2L, ts(1), Array(1f, 1f))) // ties both cells
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ann_ingest_ties").orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    got(0) shouldBe ((1L, 3L)) // zero norm -> bp 0, smallest cell
    got(1) shouldBe ((2L, 3L)) // equal affinity -> smallest cell
  }

  test("probe semantics: probeTopK probes exactly the cells the batch " +
      "candidates (ivfIndexCandidates) probe, over a zero centroid and " +
      "tied cells at nprobe = 2") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // cells 3 and 5 tie everywhere, cell 9 is the zero vector (bp 0 for
    // every query); one candidate per cell, so a query's candidates
    // name its probed cells
    val cellOf = Map(100L -> 3L, 101L -> 5L, 102L -> 7L, 103L -> 9L)
    val index = indexOf(Seq(5L -> Seq(1000000L, 1000000L),
        3L -> Seq(1000000L, 1000000L), 7L -> Seq(1000000L, -1000000L),
        9L -> Seq(0L, 0L)), cellOf.toSeq)
    val queries = Seq(1L -> Array(1f, 1f), 2L -> Array(1f, -1f),
      3L -> Array(-1f, -1f), 4L -> Array(-1f, 1f))
    val corpus = (queries.map { case (id, v) => (id, v.toSeq) } ++ Seq(
        100L -> Seq(1f, 1f), 101L -> Seq(1f, 0.5f),
        102L -> Seq(1f, -1f), 103L -> Seq(-1f, -1f)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[AnnIngest.VecIn]
    val q = AnnIngest.probeTopK(in.toDS(), index, corpus, "vec_id",
        "embedding", k = 10, nprobe = 2, lateness = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("ann_probe_cells").start()
    try {
      in.addData(queries.map { case (id, v) =>
        AnnIngest.VecIn(id, ts(0), v) })
      q.processAllAvailable()
      // advance the watermark past the window so append emits it
      in.addData(AnnIngest.VecIn(-1L, new Timestamp(86400000L * 30),
        Array(1f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    def probed(pairs: Seq[(Long, Long)]) = pairs
      .groupBy(_._1).map { case (qid, ps) =>
        qid -> ps.map(p => cellOf(p._2)).toSet }
    val streamed = probed(spark.table("ann_probe_cells")
      .filter(col("query_id") =!= -1L).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2))))
    val batch = probed(Ann.ivfIndexCandidates(index, corpus, "vec_id",
        "embedding", col("id") > 0L && col("id") < 100L, nprobe = 2)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    streamed shouldBe batch
    // ties to the smallest cell, the zero centroid ranked at bp 0
    batch shouldBe Map(1L -> Set(3L, 5L), 2L -> Set(7L, 3L),
      3L -> Set(7L, 9L), 4L -> Set(3L, 5L))
  }

  test("ingest survives stop + restart exactly-once: offsets, dedup " +
      "state, and the parquet sink log all resume") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ann_ckpt")
    val inDir = java.nio.file.Files.createDirectory(root.resolve("in"))
      .toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString

    val embs = Tables.embeddings(spark, sfDir)
    val index = Ann.buildDetIvfIndex(embs, "vec_id", "embedding", "label")
    val batch = Ann.ivfDetHomeCells(embs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => AnnIngest.VecIn(id, ts(id.toInt), v) }
    val (half1, half2) = rows.splitAt(rows.length / 2)

    def start() = AnnIngest.assignCells(
        spark.readStream.schema(implicitly[
            org.apache.spark.sql.Encoder[AnnIngest.VecIn]].schema)
          .parquet(inDir).as[AnnIngest.VecIn],
        index, lateness = "10 minutes")
      .toDF().writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    spark.createDataset(half1.toSeq).write.mode("append").parquet(inDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // "failure": the query is gone; the second half arrives while it is
    // down, INCLUDING a re-delivery of a first-half id (same event) —
    // the dedup state must survive the restart and drop it
    spark.createDataset((half2 :+ half1.head).toSeq)
      .write.mode("append").parquet(inDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell"))
    // exactly one routing row per distinct vector — no loss across the
    // restart, no double emission of the re-delivered id
    out.length shouldBe rows.length
    out.toMap.foreach { case (id, cell) => cell shouldBe batch(id) }
  }
}
