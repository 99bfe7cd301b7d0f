package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.TextOps
import graft.sources.VersionedStore

/** Streaming parity tests for the three reference apps: running counts in
  * complete mode over a MemoryStream must equal the batch computation on
  * the same lines (the reference's own dual-implementation oracle
  * methodology, cs425_mp4.pdf §4). */
class StreamingSpec extends SparkSpec {

  private def runComplete(name: String, app: String,
                          batches: Seq[Seq[String]]): Map[String, Long] = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = CraneStream.counts(app, in.toDF()).writeStream
      .outputMode("complete").format("memory").queryName(name).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    } finally q.stop()
  }

  test("wordCount running counts accumulate across micro-batches") {
    val got = runComplete("wc", "wordCount",
      Seq(Seq("to be or not to be", "  to   be  "), Seq("or not")))
    got shouldBe Map("to" -> 3L, "be" -> 3L, "or" -> 2L, "not" -> 2L)
  }

  test("twitter keeps only well-formed edges and counts followees") {
    val got = runComplete("tw", "twitter",
      Seq(Seq("1 5", "2 5", "malformed", "3 7", "1 5 9")))
    got shouldBe Map("5" -> 2L, "7" -> 1L)
  }

  test("hothttp filters status-200 lines with >= 10 fields, keys field 7") {
    // Calgary access-log shape: the [ts tz] timestamp splits into TWO
    // whitespace fields, so the resource lands at field 7 (Go index 6).
    val ok = "remote - - [01/Jun/1995:00:00:59 -0600] \"GET /index.html HTTP/1.0\" 200 1497"
    val other = "remote - - [01/Jun/1995:00:01:00 -0600] \"GET /a.gif HTTP/1.0\" 200 50"
    val short = "a b 200"
    val no200 = "remote - - [01/Jun/1995:00:00:59 -0600] \"GET /index.html HTTP/1.0\" 404 1497"
    val got = runComplete("hh", "hothttp",
      Seq(Seq(ok, ok, other, short, no200)))
    got shouldBe Map("/index.html" -> 2L, "/a.gif" -> 1L)
  }

  test("grep filters a stream by regex (distributed grep, streaming form)") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = TextOps.grep(in.toDF(), "value", "err(or)? [0-9]+")
      .writeStream.outputMode("append").format("memory")
      .queryName("grep").start()
    try {
      in.addData("error 42 here", "all fine", "err 7", "errors none")
      q.processAllAvailable()
      spark.table("grep").collect().map(_.getString(0)).toSet shouldBe
        Set("error 42 here", "err 7")
    } finally q.stop()
  }

  test("socketLines streams lines from a TCP socket (S5)") {
    import spark.implicits._
    val lines = Seq("to be or not to be", "or not", "to be")
    // batch computation on the same lines is the oracle (the reference's
    // dual-implementation methodology)
    val expected = CraneStream.counts("wordCount", lines.toDF("value")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val server = new java.net.ServerSocket(
      0, 1, java.net.InetAddress.getLoopbackAddress)
    @volatile var sock: java.net.Socket = null
    val writer = new Thread(() => {
      sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
    })
    writer.setDaemon(true)
    writer.start()
    val df = CraneStream.socketLines(spark,
      server.getInetAddress.getHostAddress, server.getLocalPort)
    val q = CraneStream.counts("wordCount", df).writeStream
      .outputMode("complete").format("memory").queryName("sock_wc").start()
    try {
      // the socket source delivers asynchronously: poll until the running
      // counts equal the batch result (or time out loudly)
      val deadline = System.currentTimeMillis() + 30000
      def got() = spark.table("sock_wc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      var m = got()
      while (m != expected && System.currentTimeMillis() < deadline) {
        Thread.sleep(250); m = got()
      }
      m shouldBe expected
    } finally {
      q.stop()
      if (sock != null) sock.close()
      server.close()
    }
  }

  test("topK is deterministic: count desc then key asc") {
    import spark.implicits._
    val counts = Seq(("b", 2L), ("a", 2L), ("c", 3L), ("d", 1L))
      .toDF("word", "count")
    TextOps.topK(counts, 3, "count", "word").collect().map(_.getString(0)).toSeq shouldBe
      Seq("c", "a", "b")
  }

  test("replayLines releases file lines through the rate source") {
    val tmp = Files.createTempDirectory("replay")
    val file = tmp.resolve("data.txt")
    val lines = (0 until 50).map(i => s"line-$i")
    Files.write(file, String.join("\n", lines: _*).getBytes)
    val q = CraneStream.replayLines(spark, file.toString, linesPerSecond = 100)
      .writeStream.outputMode("append").format("memory")
      .queryName("replay").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      var n = 0L
      while (n < 50 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250); q.processAllAvailable()
        n = spark.table("replay").count()
      }
      val got = spark.table("replay").collect().map(_.getString(0)).toSet
      got shouldBe lines.toSet // every line released exactly once
    } finally q.stop()
  }

  test("update-mode merge-on-write: snapshots carry all keys, triggers only changed ones") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = Files.createTempDirectory("upd").toString
    val store = VersionedStore(s"$tmp/store")
    val in = MemoryStream[String]
    val q = CraneStream.startUpdateMode(in.toDF(), "wordCount", store,
      checkpointDir = s"$tmp/ckpt", period = "0 seconds")
    try {
      in.addData("x x y"); q.processAllAvailable()
      in.addData("y z"); q.processAllAvailable()
      val vs = store.versions(spark, "wordCount_counts")
      vs.size shouldBe 2
      // final snapshot = exact running totals over both batches
      val latest = store.get(spark, "wordCount_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      latest shouldBe Map("x" -> 2L, "y" -> 2L, "z" -> 1L)
      // the second trigger only rewrote y (changed) and z (new) on top of
      // the carried-over x row; x's count came from version 0 untouched
      val v0 = spark.read.parquet(s"$tmp/store/wordCount_counts/version=${vs.head}")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      v0 shouldBe Map("x" -> 2L, "y" -> 1L)
    } finally q.stop()
  }

  test("bounded top-K: K-row snapshots, golden vs update-mode full counts") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = Files.createTempDirectory("btk").toString
    // drive BOTH operators over identical batches; batch 2 re-promotes a
    // key (c) that batch 1's top-2 evicted, exercising the
    // changed-keys-rejoin-candidates path the monotonicity argument needs
    val batches = Seq("a a a b b c", "c c c", "b b b b")
    val storeB = VersionedStore(s"$tmp/bounded")
    val inB = MemoryStream[String]
    val qB = CraneStream.startTopKBounded(inB.toDF(), "wordCount", storeB,
      checkpointDir = s"$tmp/ckptB", k = 2, period = "0 seconds")
    val storeU = VersionedStore(s"$tmp/update")
    val inU = MemoryStream[String]
    val qU = CraneStream.startUpdateMode(inU.toDF(), "wordCount", storeU,
      checkpointDir = s"$tmp/ckptU", period = "0 seconds")
    try {
      batches.foreach { b =>
        inB.addData(b); qB.processAllAvailable()
        inU.addData(b); qU.processAllAvailable()
      }
      def snap(store: VersionedStore, name: String, v: Long) =
        spark.read.parquet(s"${store.root}/$name/version=$v")
      // every bounded snapshot holds at most K rows — the state-size
      // contract (update-mode snapshots grow with the key space)
      val vsB = storeB.versions(spark, "wordCount_topk")
      vsB.size shouldBe 3
      vsB.foreach { v =>
        assert(snap(storeB, "wordCount_topk", v).count() <= 2)
      }
      // golden: each bounded snapshot equals topK over the update-mode
      // full-counts snapshot of the same batch
      val vsU = storeU.versions(spark, "wordCount_counts")
      vsB.zip(vsU).foreach { case (vb, vu) =>
        val got = snap(storeB, "wordCount_topk", vb)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
        val want = TextOps.topK(snap(storeU, "wordCount_counts", vu), 2, "count", "word")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
        got shouldBe want
      }
      // and the re-promoted key is present in the final top-2
      snap(storeB, "wordCount_topk", vsB.last)
        .collect().map(_.getString(0)).toSet shouldBe Set("b", "c")
    } finally { qB.stop(); qU.stop() }
  }

  test("corpusIngest: stream gates + dedup equal the batch composition") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    val good1 = "the quick brown fox jumps over the lazy dog and runs home"
    val good2 = "a cat sat on the mat and the dog sat on the log today"
    val junk = "!!! ### 111 @@@ %%% ^^^ &&& *** ((( )))"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def row(id: Long, txt: String, s: Int) =
      (id, new java.sql.Timestamp(t0.getTime + s * 1000L), txt)
    val b1 = Seq(row(1, good1, 0), row(2, junk, 1), row(3, good2, 2))
    val b2 = Seq(row(4, good1, 3), // duplicate content, later batch
      row(5, good2, 4), // duplicate content
      row(6, good1 + " again and again with more words here", 5))
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = EventTimeOps.corpusIngest(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 minutes")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ingest").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("ingest").collect()
        .map(r => r.getAs[Long]("doc_id")).toSet
      // batch twin: same gates, keep-first per fingerprint in ts order
      val TF = graft.functions.TextFunctions
      val batch = (b1 ++ b2).toDF("doc_id", "ts", "text")
      val expected = batch
        .filter(TF.qualityScore(col("text")) >= 0.63 &&
          TF.langId(col("text")) === "en")
        .withColumn("fp", TF.fingerprint(col("text")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("ts", "doc_id")))
        .filter(col("rn") === 1)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      got shouldBe expected
      // and the duplicates/junk are demonstrably gone: 4 and 5 replayed
      // already-seen content, 2 failed the gates
      got should contain allOf (1L, 3L)
      got should contain noneOf (2L, 4L, 5L)
    } finally q.stop()
  }

  test("corpusIngestIncremental: stream docs colliding with the static " +
      "corpus never reach the sink") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val TF = graft.functions.TextFunctions
    val known = "the quick brown fox jumps over the lazy dog and runs home"
    val fresh1 = "a cat sat on the mat and the dog sat on the log today"
    val fresh2 = "the sun rose over the hill and the birds began to sing"
    // historical corpus fingerprint relation: 16-byte digests only
    val corpusFps = Seq(known).toDF("text")
      .select(TF.fingerprint(col("text")).as("fp"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def row(id: Long, txt: String, s: Int) =
      (id, new java.sql.Timestamp(t0.getTime + s * 1000L), txt)
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = EventTimeOps.corpusIngestIncremental(
      in.toDF().toDF("doc_id", "ts", "text"), corpusFps,
      "ts", "text", "10 minutes")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ingest_inc").start()
    try {
      in.addData(row(1, known, 0),   // already in the corpus -> dropped
        row(2, fresh1, 1),           // new -> kept
        row(3, fresh1, 2))           // in-stream dup -> dropped
      q.processAllAvailable()
      in.addData(row(4, fresh2, 3),  // new -> kept
        row(5, known, 4))            // corpus dup again, later batch
      q.processAllAvailable()
      spark.table("ingest_inc").collect()
        .map(_.getAs[Long]("doc_id")).toSet shouldBe Set(2L, 4L)
    } finally q.stop()
  }

  test("CraneStream end-to-end: versioned top-K snapshot per trigger") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = Files.createTempDirectory("crane").toString
    val store = VersionedStore(s"$tmp/store")
    val in = MemoryStream[String]
    val q = CraneStream.start(in.toDF(), "wordCount", store,
      checkpointDir = s"$tmp/ckpt", k = 2, period = "0 seconds")
    try {
      in.addData("x x x y y z"); q.processAllAvailable()
      in.addData("z z z z"); q.processAllAvailable()
      val vs = store.versions(spark, "wordCount_result")
      vs should not be empty
      // latest snapshot reflects ALL data (running totals: z=5,x=3)
      val latest = store.get(spark, "wordCount_result")
        .orderBy($"count".desc).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      latest shouldBe Seq("z" -> 5L, "x" -> 3L)
      // get-versions returns version-tagged history
      val hist = store.getVersions(spark, "wordCount_result", vs.size)
      hist.columns should contain("version")
      hist.select("version").distinct().count() shouldBe vs.size
    } finally q.stop()
  }
}
