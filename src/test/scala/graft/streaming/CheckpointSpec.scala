package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.operators.TextOps
import graft.sources.{LocalFs, LocalFsSpec, VersionedStore}

/** Exactly-once across restart: the rebuild's answer to the reference's
  * kill-a-VM fault injection (cs425_mp4.pdf Fig. 2B). Crane replays
  * un-acked tuples and can double-count (at-least-once); a restarted
  * Structured Streaming query resumes from checkpointed offsets + state,
  * so counts over the union of inputs are exact. */
class CheckpointSpec extends SparkSpec {

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = Files.createTempFile("stage", ".txt")
    Files.write(tmp, String.join("\n", lines: _*).getBytes)
    // atomic move in so the file source never sees a partial file
    Files.move(tmp, dir.resolve(name))
  }

  /** The session confs the entry points set around `start`: none may
    * outlive it. */
  private def startConfs: Seq[(String, Option[String])] =
    (LocalFs.routing.keys.toSeq :+ "spark.sql.streaming.stateStore.providerClass")
      .map(k => k -> spark.conf.getOption(k))

  test("wordCount counts survive stop + restart without double counting") {
    val root = Files.createTempDirectory("ckpt")
    val inDir = Files.createDirectory(root.resolve("in"))
    val store = VersionedStore(root.resolve("store").toString)
    val ckpt = root.resolve("ckpt").toString

    def start() = CraneStream.start(
      CraneStream.fileLines(spark, inDir.toString), "wordCount", store,
      checkpointDir = ckpt, k = 10, period = "0 seconds")

    writeFile(inDir, "part1.txt", Seq("a a b", "c"))
    val priorConfs = startConfs
    val q1 = start()
    try {
      q1.processAllAvailable()
      startConfs shouldBe priorConfs
    } finally q1.stop()

    // "failure": the query is gone; new data arrives while it is down
    writeFile(inDir, "part2.txt", Seq("a b b", "c c"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val counts = store.get(spark, "wordCount_result").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // exact totals over part1 ∪ part2 — part1 NOT re-counted
      counts shouldBe Map("a" -> 3L, "b" -> 3L, "c" -> 3L)
    } finally q2.stop()
  }

  /** `CraneStream.start`'s wordCount query with Hadoop's stock local
    * filesystem on `file:`, which forks `chmod` and `readlink` through
    * Hadoop's `Shell` where `libhadoop` is missing: the checkpoint
    * format before `LocalFs`. */
  private def startStock(inDir: String, store: VersionedStore,
                         ckpt: String): StreamingQuery = {
    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock.conf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val key = CraneStream.apps("wordCount")._1
    CraneStream.counts("wordCount", CraneStream.fileLines(stock, inDir))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.putVersion("wordCount_result", batchId,
          TextOps.topK(batch, 10, "count", key))
        ()
      }
      .start()
  }

  for (stockFirst <- Seq(true, false))
    test(s"a checkpoint written under ${if (stockFirst) "stock Hadoop" else "LocalFs"} " +
         s"resumes exactly once under ${if (stockFirst) "LocalFs" else "stock Hadoop"}") {
      val root = Files.createTempDirectory("ckpt-x")
      val inDir = Files.createDirectory(root.resolve("in"))
      val store = VersionedStore(root.resolve("store").toString)
      val ckpt = root.resolve("ckpt").toString
      def run(stock: Boolean): Unit = {
        val (_, starts) = LocalFsSpec.processStarts {
          val q =
            if (stock) startStock(inDir.toString, store, ckpt)
            else CraneStream.start(CraneStream.fileLines(spark, inDir.toString),
              "wordCount", store, checkpointDir = ckpt, k = 10, period = "0 seconds")
          try q.processAllAvailable() finally q.stop()
        }
        // the stock side really ran stock Hadoop, the other side did not
        starts.exists(_.fromShell) shouldBe stock
      }

      writeFile(inDir, "part1.txt", Seq("a a b", "c"))
      run(stock = stockFirst)
      writeFile(inDir, "part2.txt", Seq("a b b", "c c"))
      run(stock = !stockFirst)
      // one batch per part: the restart neither re-ran nor skipped part1
      store.versions(spark, "wordCount_result") shouldBe Seq(0L, 1L)
      store.get(spark, "wordCount_result").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
        Map("a" -> 3L, "b" -> 3L, "c" -> 3L)
    }

  test("bounded top-K (mapGroupsWithState) resumes exactly across stop + restart") {
    // the kill-and-restart assertion for the third state/output mode
    // (CraneStream.startTopKBounded): per-key counts live in
    // mapGroupsWithState, the sink holds a K-row snapshot. After a
    // mid-stream stop, the restarted query must restore the keyed state
    // — if it were lost, the monotone-merge argument breaks and the
    // resumed counts undercount part1.
    val root = Files.createTempDirectory("ckpt2")
    val inDir = Files.createDirectory(root.resolve("in"))
    val store = VersionedStore(root.resolve("store").toString)
    val ckpt = root.resolve("ckpt").toString

    def start() = CraneStream.startTopKBounded(
      CraneStream.fileLines(spark, inDir.toString), "wordCount", store,
      checkpointDir = ckpt, k = 2, period = "0 seconds")

    writeFile(inDir, "part1.txt", Seq("a a b", "c a"))
    val priorConfs = startConfs
    val q1 = start()
    try {
      q1.processAllAvailable()
      startConfs shouldBe priorConfs
    } finally q1.stop()

    writeFile(inDir, "part2.txt", Seq("b b b c", "c c"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val snap = store.get(spark, "wordCount_topk").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // exact totals a=3 b=4 c=4 over part1 ∪ part2; the bounded
      // snapshot holds exactly the top-2 (count desc, key asc), with
      // 'a' correctly evicted by the newly-risen keys
      snap shouldBe Map("b" -> 4L, "c" -> 4L)
    } finally q2.stop()
  }

  /** True iff some completed trigger ran its stateful operator on the
    * RocksDB provider (the provider surfaces rocksdb* custom metrics). */
  private def ranOnRocksDb(
      q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    import scala.jdk.CollectionConverters._
    q.recentProgress.exists(_.stateOperators.exists(
      _.customMetrics.keySet().asScala.exists(_.contains("rocksdb"))))
  }

  test("update-mode counts run on RocksDB state and survive restart") {
    // the 100 TB state path: startUpdateMode pins the disk-backed
    // RocksDB provider before start; kill/restart must reopen the same
    // store format and resume exactly (no double counting)
    val root = Files.createTempDirectory("ckpt3")
    val inDir = Files.createDirectory(root.resolve("in"))
    val store = VersionedStore(root.resolve("store").toString)
    val ckpt = root.resolve("ckpt").toString

    def start() = CraneStream.startUpdateMode(
      CraneStream.fileLines(spark, inDir.toString), "wordCount", store,
      checkpointDir = ckpt, period = "0 seconds")

    writeFile(inDir, "part1.txt", Seq("a a b", "c"))
    val priorConfs = startConfs
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(ranOnRocksDb(q1), "expected RocksDB state store metrics")
      // the provider and the file: routing are pinned PER QUERY (the
      // provider captured into its offset metadata), not leaked into the
      // session conf for later queries
      startConfs shouldBe priorConfs
    } finally q1.stop()

    writeFile(inDir, "part2.txt", Seq("a b b", "c c"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ranOnRocksDb(q2), "restart must reopen the RocksDB store")
      val counts = store.get(spark, "wordCount_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counts shouldBe Map("a" -> 3L, "b" -> 3L, "c" -> 3L)
    } finally q2.stop()
  }

  test("sessionize keyed state on RocksDB resumes across stop + restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val prior =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    CraneStream.useRocksDbStateStore(spark)
    try {
      val root4 = Files.createTempDirectory("ckpt4")
      val ckpt = root4.resolve("c").toString
      val outDir = root4.resolve("out").toString
      val in = MemoryStream[EventTimeOps.Ev]
      // file sink, not memory sink: recovery from checkpoint is the
      // thing under test, and the memory sink refuses to recover
      def start() = EventTimeOps.sessionize(in.toDS(),
          gapMs = 30 * 60000L, lateness = "10 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      // open a session for user 1, then kill with the session pending
      in.addData(EventTimeOps.Ev(1L, ts(100)), EventTimeOps.Ev(1L, ts(105)))
      val q1 = start()
      try {
        q1.processAllAvailable()
        assert(ranOnRocksDb(q1), "expected RocksDB state store metrics")
      } finally q1.stop()
      // restart: the pending session must come back from RocksDB state —
      // push the watermark past its gap and the timeout must emit it
      // with the PRE-restart extents
      in.addData(EventTimeOps.Ev(2L, ts(340)))
      in.addData(EventTimeOps.Ev(2L, ts(341)))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(ranOnRocksDb(q2), "restart must reopen the RocksDB store")
        val s1 = spark.read.parquet(outDir)
          .as[EventTimeOps.Session].collect().filter(_.user_id == 1L)
        s1.length shouldBe 1
        s1.head.n_events shouldBe 2L
        s1.head.session_start shouldBe ts(100)
        s1.head.session_end shouldBe ts(105)
      } finally q2.stop()
    } finally prior match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
