package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedStore

/** Streaming near-dup ingest with MAINTAINED banded-MinHash index
  * (NearDupIngest): later triggers must collide with earlier STREAMED
  * docs, not just the offline corpus — the staleness gap
  * corpusIngestIncremental alone leaves open. */
class NearDupIngestSpec extends SparkSpec {

  private def ts(i: Int) = new Timestamp(86400000L + i * 1000L)

  private def tmpStore(tag: String) = VersionedStore(
    java.nio.file.Files.createTempDirectory(s"neardup_$tag").toString)

  // long, token-disjoint bodies: band collisions across DIFFERENT bases
  // are md5-level impossible; collisions within a base family are what
  // the tests arrange deliberately
  private val baseA = ("alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
  private val baseB = ("one two three four five six seven eight nine " +
    "ten eleven twelve thirteen fourteen fifteen sixteen") * 3
  private val baseC = ("red orange yellow green blue indigo violet " +
    "crimson amber chartreuse teal azure magenta maroon") * 3

  test("later triggers collide with earlier STREAMED docs; exact-copy " +
      "and near-dup both rejected; novel and shingle-less accepted") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = tmpStore("collide")
    // offline corpus: baseA only
    NearDupIngest.seed(spark, store, "corpus",
      Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text")

    val in = MemoryStream[(Long, Timestamp, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_ck")
    val q = in.toDF().toDF("doc_id", "ts", "text")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        NearDupIngest.ingestBatch(store, "corpus", "doc_id", "text")(
          batch.drop("ts"), batchId)
      }
      .start()
    try {
      // trigger 1: baseB is novel -> accepted and INDEXED
      in.addData((10L, ts(0), baseB))
      q.processAllAvailable()
      // trigger 2: 20 = exact copy of STREAMED 10 (not in the offline
      // corpus!), 21 = near-dup of STREAMED 10 (one token appended),
      // 22 = exact copy of the OFFLINE doc, 23 = novel, 24 = too short
      // to shingle (no bands, must be accepted)
      in.addData(
        (20L, ts(10), baseB),
        (21L, ts(11), baseB + " coda"),
        (22L, ts(12), baseA),
        (23L, ts(13), baseC),
        (24L, ts(14), "tiny"))
      q.processAllAvailable()
    } finally q.stop()

    val accepted = NearDupIngest.acceptedDocs(spark, store, "corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    accepted shouldBe Set(10L, 23L, 24L)

    // the maintained index equals a batch rebuild over
    // offline ∪ accepted: zero staleness
    val full = Seq((1L, baseA)).toDF("doc_id", "text")
      .unionByName(Seq((10L, baseB), (23L, baseC), (24L, "tiny"))
        .toDF("doc_id", "text"))
    val audit = NearDupIngest.stalenessAudit(spark, store, "corpus",
      full, "doc_id", "text").collect().head
    audit.getLong(2) shouldBe 0L // n_missing
    audit.getLong(3) shouldBe 0L // n_extra
    audit.getLong(0) shouldBe audit.getLong(1)
  }

  test("ingestBatch versions are idempotent on replay and the smallest " +
      "doc_id wins an in-batch collision") {
    import spark.implicits._
    val store = tmpStore("replay")
    NearDupIngest.seed(spark, store, "corpus",
      Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq((30L, baseB), (31L, baseB), (32L, baseC))
      .toDF("doc_id", "text")
    NearDupIngest.ingestBatch(store, "corpus", "doc_id", "text")(batch, 0L)
    val v1 = store.versions(spark, "corpus_bands")
    val acc1 = NearDupIngest.acceptedDocs(spark, store, "corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    acc1 shouldBe Set(30L, 32L) // 31 lost to smaller-id 30
    // replay of the same micro-batch overwrites its own version
    NearDupIngest.ingestBatch(store, "corpus", "doc_id", "text")(batch, 0L)
    store.versions(spark, "corpus_bands") shouldBe v1
    NearDupIngest.acceptedDocs(spark, store, "corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe acc1
  }

  test("delta-band mode: chain view equals the snapshot mode's index " +
      "at every trigger; compaction preserves the view and the audit; " +
      "per-trigger delta writes stay batch-sized") {
    import spark.implicits._
    val snapStore = tmpStore("mode_snap")
    val dltStore = tmpStore("mode_dlt")
    Seq(snapStore, dltStore).foreach(st =>
      NearDupIngest.seed(spark, st, "corpus",
        Seq((1L, baseA)).toDF("doc_id", "text"), "doc_id", "text"))
    // trigger 0: novel B + novel C; trigger 1: copy of STREAMED B (must
    // collide via the chain view), novel short doc
    val batches = Seq(
      Seq((30L, baseB), (32L, baseC)),
      Seq((40L, baseB), (41L, "tiny")))
    batches.zipWithIndex.foreach { case (rows, b) =>
      val df = rows.toDF("doc_id", "text")
      NearDupIngest.ingestBatch(snapStore, "corpus", "doc_id", "text")(
        df, b.toLong)
      NearDupIngest.ingestBatchDelta(dltStore, "corpus", "doc_id",
        "text")(df, b.toLong)
      def bandSet(st: VersionedStore) =
        NearDupIngest.bandIndex(spark, st, "corpus")
          .collect().map(_.toString).toSet
      bandSet(dltStore) shouldBe bandSet(snapStore)
    }
    NearDupIngest.acceptedDocs(spark, dltStore, "corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(30L, 32L, 41L)
    // each delta version holds only ITS batch's accepted band rows,
    // never the index (the O(batch)-per-trigger claim, asserted).
    // Trigger 1's delta is EMPTY: its one accepted doc (41, "tiny") is
    // too short to shingle — accepted docs and band rows are decoupled
    val perDelta = dltStore
      .versions(spark, "corpus_bands_delta").map(v => dltStore
        .getVersion(spark, "corpus_bands_delta", v)
        .select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet)
    perDelta shouldBe Seq(Set(30L, 32L), Set.empty[Long])
    // compact; view and staleness audit unchanged
    val before = NearDupIngest.bandIndex(spark, dltStore, "corpus")
      .collect().map(_.toString).toSet
    NearDupIngest.compactBands(spark, dltStore, "corpus", upTo = 2L)
    dltStore.versions(spark, "corpus_bands_delta") shouldBe empty
    NearDupIngest.bandIndex(spark, dltStore, "corpus")
      .collect().map(_.toString).toSet shouldBe before
    val full = Seq((1L, baseA), (30L, baseB), (32L, baseC), (41L, "tiny"))
      .toDF("doc_id", "text")
    val audit = NearDupIngest.stalenessAudit(spark, dltStore, "corpus",
      full, "doc_id", "text").collect().head
    audit.getLong(2) shouldBe 0L
    audit.getLong(3) shouldBe 0L
  }

  test("full topology over sf docs: gates + exact dedup + maintained " +
      "band index; accepted docs are collision-free in the final index") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val offline = docs.filter(col("doc_id") < 250)
    val arriving = docs.filter(col("doc_id") >= 250)
      .select("doc_id", "text").as[(Long, String)].collect()
    val store = tmpStore("topo")
    NearDupIngest.seed(spark, store, "corpus", offline, "doc_id", "text")
    val corpusFps = offline.select(
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))

    val in = MemoryStream[(Long, Timestamp, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_topo")
    val q = NearDupIngest.start(
      in.toDF().toDF("doc_id", "ts", "text"), corpusFps, store, "corpus",
      "ts", "doc_id", "text", ckpt.toString, lateness = "10 minutes")
    try {
      val (h1, h2) = arriving.splitAt(arriving.length / 2)
      in.addData(h1.zipWithIndex.map { case ((id, t), i) =>
        (id, ts(i), t) }.toSeq)
      q.processAllAvailable()
      in.addData(h2.zipWithIndex.map { case ((id, t), i) =>
        (id, ts(h1.length + i), t) }.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val accepted = NearDupIngest.acceptedDocs(spark, store, "corpus")
    val acceptedIds = accepted.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    acceptedIds.foreach(id => assert(id >= 250L))
    accepted.count() shouldBe acceptedIds.size // delta versions disjoint
    // no accepted streamed doc shares a (band, sig) with ANY other doc
    // in the final index (offline-offline collisions may pre-exist)
    val finalBands = store.get(spark, "corpus_bands")
    val collisions = finalBands.as("a").join(finalBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("a.doc_id").isin(acceptedIds.toSeq.map(Long.box): _*))
      .count()
    collisions shouldBe 0L
    // maintained index == batch rebuild over offline ∪ accepted
    val audit = NearDupIngest.stalenessAudit(spark, store, "corpus",
      offline.select("doc_id", "text").unionByName(
        accepted.select("doc_id", "text")),
      "doc_id", "text").collect().head
    audit.getLong(2) shouldBe 0L
    audit.getLong(3) shouldBe 0L
  }
}
