package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSession
import graft.Harness.{num, sentinel}
import graft.streaming.CraneStream
import graft.sources.VersionedStore

/** Streaming drain benchmark — the rebuild's counterpart to the
  * reference's headline measurement (cs425_mp4.pdf Fig. 2A-2F: total
  * time to stream each corpus through wordCount / twitter / hothttp;
  * Crane ≈ 190-900 s, Spark Streaming ≈ 140-1080 s depending on emit
  * rate, 10 VMs, 2018).
  *
  * Benches ALL THREE reference topologies over the reference's own
  * corpora (shakespear → wordCount, twitter edges → twitter, the
  * Calgary HTTP log → hothttp), each through the complete-mode
  * topology with per-trigger top-5 snapshots, plus the bounded-state
  * top-K path (mapGroupsWithState + K-row snapshot — the
  * high-cardinality mode) on the wordCount corpus. Unthrottled (the
  * reference's spout rate limit is an input knob, not an engine
  * property); reports lines/second end-to-end including snapshot
  * writes.
  *
  * One JSON line on stdout: `value` stays the wordCount complete-mode
  * rate (the long-tracked NOTES band), `apps` carries every mode.
  *
  * Usage: runMain graft.tools.StreamBench [copies]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 40
    val data = "/root/reference/spark-streaming/data"
    val spark = GraftSession()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def corpus(name: String): Array[String] =
      Files.readAllLines(java.nio.file.Paths.get(s"$data/$name"))
        .toArray(Array.empty[String])

    // host-drift sentinel: recorded in the artifact so a cross-round
    // band comparison divides by the sentinel ratio before reading any
    // delta as real
    val sentinelStart = sentinel()

    /** Drain `copies` replays of `lines` through one started query;
      * returns (lines/sec, total lines). */
    def drain(lines: Array[String], nCopies: Int,
              startQ: MemoryStream[String] =>
                org.apache.spark.sql.streaming.StreamingQuery)
        : (Double, Long) = {
      val in = MemoryStream[String]
      val q = startQ(in)
      val total = nCopies.toLong * lines.length
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < nCopies) { in.addData(lines.toSeq); i += 1 }
        q.processAllAvailable()
      } finally q.stop()
      (total / ((System.nanoTime() - t0) / 1e9), total)
    }

    val runs = Seq(
      // (label, app, corpus file, state/output mode)
      ("wordCount", "wordCount", "shakespear", "complete"),
      ("twitter", "twitter", "twitter", "complete"),
      ("hothttp", "hothttp", "calgary", "complete"),
      ("wordCount_topk_bounded", "wordCount", "shakespear", "bounded"),
      // update mode = only changed keys per trigger, keyed state on the
      // RocksDB provider (startUpdateMode pins it) — the
      // high-cardinality band the 100 TB streaming story runs on
      ("wordCount_update_rocksdb", "wordCount", "shakespear", "update"),
    )
    val results = runs.map { case (label, app, file, mode) =>
      val lines = corpus(file)
      // hold total drained lines roughly comparable across corpora
      val nCopies = math.max(1, (copies.toLong * 2309 / lines.length).toInt)
      val tmp = Files.createTempDirectory(s"streambench_$label").toString
      val store = VersionedStore(s"$tmp/store")
      val (rate, total) = drain(lines, nCopies, in => mode match {
        case "bounded" =>
          CraneStream.startTopKBounded(in.toDF(), app, store,
            checkpointDir = s"$tmp/ckpt", k = 5, period = "0 seconds")
        case "update" =>
          CraneStream.startUpdateMode(in.toDF(), app, store,
            checkpointDir = s"$tmp/ckpt", period = "0 seconds")
        case _ =>
          CraneStream.start(in.toDF(), app, store,
            checkpointDir = s"$tmp/ckpt", k = 5, period = "0 seconds")
      })
      val suffix = mode match {
        case "bounded" => "topk"
        case "update" => "counts"
        case _ => "result"
      }
      val top = store.get(spark, s"${app}_$suffix")
        .orderBy(org.apache.spark.sql.functions.col("count").desc,
          org.apache.spark.sql.functions.col(
            graft.streaming.StreamApps.keyCol(app)))
        .limit(5).collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
      (label, rate, total, top)
    }

    // ---- event-time topologies (EventTimeOps): the watermarked
    // stream-stream interval join and flatMapGroupsWithState
    // sessionization — spec-tested since r6, banded here. Synthetic
    // deterministic events: 10k users, per-user inter-arrival spread so
    // watermark advance continually closes state (eviction is the cost
    // being measured, not just ingestion).
    val nEvents = copies * 2500
    def evTs(i: Int): java.sql.Timestamp =
      new java.sql.Timestamp(86400000L + (i / 10000).toLong * 60000L)

    def drainEvents(label: String,
                    build: () => (Seq[java.sql.Timestamp => Unit],
                      org.apache.spark.sql.DataFrame)): (String, Double, Long) = {
      val (feeds, out) = build()
      val tmp = Files.createTempDirectory(s"streambench_$label").toString
      val q = out.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$tmp/ckpt").start()
      val t0 = System.nanoTime()
      try {
        // one far-future flush event per feed closes all pending state
        feeds.foreach(_(new java.sql.Timestamp(86400000L * 30)))
        q.processAllAvailable()
      } finally q.stop()
      (label, nEvents / ((System.nanoTime() - t0) / 1e9), nEvents.toLong)
    }

    val evResults = Seq(
      drainEvents("interval_join", () => {
        val views = MemoryStream[(Long, java.sql.Timestamp)]
        val clicks = MemoryStream[(Long, java.sql.Timestamp)]
        val half = nEvents / 2
        views.addData((0 until half).map(i =>
          ((i % 10000).toLong, evTs(i))))
        clicks.addData((0 until half).map(i =>
          ((i % 10000).toLong,
            new java.sql.Timestamp(evTs(i).getTime + 10000L))))
        val joined = graft.streaming.EventTimeOps.intervalJoin(
          views.toDF().toDF("user_id", "view_ts"),
          clicks.toDF().toDF("user_id", "click_ts"),
          "user_id", "view_ts", "click_ts",
          horizon = "2 minutes", lateness = "5 minutes")
        (Seq(t => views.addData((0L, t)), t => clicks.addData((0L, t))),
          joined)
      }),
      drainEvents("sessionize", () => {
        implicit val sp: SparkSession = spark
        val in = MemoryStream[graft.streaming.EventTimeOps.Ev]
        in.addData((0 until nEvents).map(i =>
          graft.streaming.EventTimeOps.Ev((i % 10000).toLong, evTs(i))))
        (Seq(t => in.addData(graft.streaming.EventTimeOps.Ev(0L, t))),
          graft.streaming.EventTimeOps.sessionize(in.toDS(),
            gapMs = 30000L, lateness = "5 minutes").toDF())
      }))

    // ---- multimodal ingest: decode rate through the streaming engine,
    // append mode, stateless. Two topologies so each number means what
    // it says: `profile` runs the one-pass contentProfile kernel over
    // the default corpus (REAL PGM image + WAV audio decode; video
    // payloads are byte-digested, contentProfile's documented contract
    // for kinds with no codec); `frames` runs sampleFramesContent over
    // the pgmstream corpus — the REAL multi-frame P5 stream walk per
    // video row. items/s is decode-bound CPU, the number a media
    // ingest pipeline provisions against.
    def drainMedia(label: String, videoFormat: String,
                   topo: org.apache.spark.sql.Dataset[
                     graft.operators.Multimodal.Media] =>
                     org.apache.spark.sql.DataFrame): (String, Double, Long) = {
      implicit val sp: SparkSession = spark
      val items = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.mediaFromDocuments(
          graft.core.Tables.documents(spark, "/root/testdata/sf0.001"),
          videoFormat = videoFormat)).collect()
      val in = MemoryStream[graft.operators.Multimodal.Media]
      val out = topo(in.toDS())
      val tmp = Files.createTempDirectory(s"streambench_$label").toString
      val q = out.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$tmp/ckpt").start()
      val nCopies = math.max(1, copies / 4)
      val total = nCopies.toLong * items.length
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < nCopies) { in.addData(items.toSeq); i += 1 }
        q.processAllAvailable()
      } finally q.stop()
      (label, total / ((System.nanoTime() - t0) / 1e9), total)
    }
    val mediaResults = {
      implicit val sp: SparkSession = spark
      Seq(
        drainMedia("media_ingest_profile", "text",
          ds => graft.operators.Multimodal.contentProfile(ds).toDF()),
        // rate denominator is all streamed rows; only the video third
        // decodes, so this is the per-mixed-corpus-row frame-walk cost
        drainMedia("media_ingest_frames", "pgmstream",
          ds => graft.operators.Multimodal
            .sampleFramesContent(ds, n = 4).toDF()))
    }

    // Trigger-wait-vs-work instrumentation (r12 directive 3): sum the
    // engine's own per-batch duration metrics across a band's
    // micro-batches so the record says WHERE the serve time goes —
    // addBatch (real work: join + state ops), walCommit/commitOffsets
    // (checkpoint bookkeeping), state-store commit. Collected BEFORE
    // stop (recentProgress retains the last 100 progresses).
    val bandBreakdowns = scala.collection.mutable.ListBuffer.empty[String]
    def breakdown(q: org.apache.spark.sql.streaming.StreamingQuery,
                  label: String): Unit = {
      val ps = q.recentProgress
      def s(k: String) = ps.map(p =>
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
      val line =
        s"""{"band":"$label","batches":${ps.length},""" +
        s""""triggerExecution_ms":${s("triggerExecution")},""" +
        s""""addBatch_ms":${s("addBatch")},""" +
        s""""getBatch_ms":${s("getBatch")},""" +
        s""""queryPlanning_ms":${s("queryPlanning")},""" +
        s""""walCommit_ms":${s("walCommit")},""" +
        s""""commitOffsets_ms":${s("commitOffsets")},""" +
        s""""stateCommit_ms":${ps.flatMap(_.stateOperators.toSeq
              .map(_.commitTimeMs)).sum},""" +
        // per-trigger EMISSION evidence (r13 directive 8): in complete
        // mode the aggregation re-emits its whole state every trigger,
        // so Σ numRowsTotal over triggers counts the cumulative
        // re-emission; in update mode the engine emits only changed
        // keys — Σ numRowsUpdated. Both from the engine's own state
        // operator metrics, not inferred.
        s""""stateRowsTotalSum":${ps.flatMap(_.stateOperators.toSeq
              .map(_.numRowsTotal)).sum},""" +
        s""""stateRowsUpdatedSum":${ps.flatMap(_.stateOperators.toSeq
              .map(_.numRowsUpdated)).sum},""" +
        s""""stateRowsTotal":${ps.lastOption.map(_.stateOperators.toSeq
              .map(_.numRowsTotal).sum).getOrElse(0L)}}"""
      bandBreakdowns += line
      System.err.println(s"[streambench] $line")
    }
    // Stateful-shuffle-width lever (r12 directive 3): the ann serve
    // bands run 2 stateful operators (pair dedup + windowed topk) over
    // 2,000-row micro-batches; at the session's 32 shuffle partitions
    // every trigger commits 64 state-store instances — per-batch
    // bookkeeping, not work, dominated the 185-193 lines/s floor. The
    // serve topologies start under a narrower width (state partition
    // count is fixed per checkpoint at query start; these benches use
    // fresh checkpoints). Production sizing note: width trades
    // per-trigger commit overhead against per-partition state volume —
    // 8 fits these micro-batches; a 1B-row ingest would size up.
    val streamStateParts =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTS", "8").toInt
    def withStateParts[T](body: => T): T = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", streamStateParts)
      try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }

    // ---- complete-mode vs update-mode at a 10× KEY-CARDINALITY step
    // (SURVEY §7.5's "use update mode at scale" guidance, measured
    // instead of asserted): synthetic keyed lines where each trigger
    // touches only ITS slice of the key space — the access pattern
    // that separates the modes. Complete mode re-emits the ENTIRE
    // cumulative key table through the aggregation every trigger
    // (state re-emission ∝ keys seen so far); update mode emits only
    // the trigger's changed keys (∝ batch). The authoritative
    // evidence is the breakdown line's engine-reported
    // stateRowsTotalSum (complete: Σ per-trigger state size = rows
    // re-emitted) vs stateRowsUpdatedSum (update: rows actually
    // emitted) — at THESE toy cardinalities wall-clock is sink-bound,
    // which is itself the point: the re-emission row count is what
    // grows 10× with the key step and what a 1B-key topology cannot
    // afford.
    val cardResults = {
      val slices = 8
      val perSlice = math.max(500, copies * 125)
      Seq(2500, 25000).flatMap { keys =>
        val perSliceKeys = keys / slices
        def sliceLines(t: Int): Seq[String] =
          (0 until perSlice).map(j =>
            s"k${t * perSliceKeys + j % perSliceKeys}")
        Seq("complete", "update").map { mode =>
          val label = s"wordCount_${mode}_${keys}keys"
          val tmp = Files
            .createTempDirectory(s"streambench_card_$mode").toString
          val store = VersionedStore(s"$tmp/store")
          val in = MemoryStream[String]
          val q = withStateParts(mode match {
            case "update" =>
              CraneStream.startUpdateMode(in.toDF(), "wordCount", store,
                checkpointDir = s"$tmp/ckpt", period = "0 seconds")
            case _ =>
              CraneStream.start(in.toDF(), "wordCount", store,
                checkpointDir = s"$tmp/ckpt", k = 5,
                period = "0 seconds")
          })
          val total = slices.toLong * perSlice
          val t0 = System.nanoTime()
          try {
            (0 until slices).foreach { t =>
              in.addData(sliceLines(t))
              // force the trigger boundary: the mode contrast IS the
              // per-trigger re-emission, so slices must not coalesce
              q.processAllAvailable()
            }
            breakdown(q, label)
          } finally q.stop()
          (label, total / ((System.nanoTime() - t0) / 1e9), total)
        }
      }
    }

    // ---- streaming ANN ingest: det-IVF cell assignment of arriving
    // embeddings against the static centroid plane (AnnIngest) — the
    // vector-side ingest band. Watermark dedup state + map-only
    // assignment; items/s is routing CPU per vector, the number a
    // vector-store ingest tier provisions against. Re-delivered copies
    // carry fresh vec_ids (copy-offset) so dedup state is exercised
    // without collapsing the workload.
    val annResults = {
      implicit val sp: SparkSession = spark
      import spark.implicits._
      val embs = graft.core.Tables
        .embeddings(spark, "/root/testdata/sf0.001")
        .select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect()
      val plane = graft.operators.Ann.detIvfCentroidPlane(
        graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001"),
        "embedding", "label")
      val in = MemoryStream[graft.streaming.AnnIngest.VecIn]
      val out = graft.streaming.AnnIngest
        .assignCells(in.toDS(), plane, lateness = "10 minutes").toDF()
      val tmp = Files.createTempDirectory("streambench_ann").toString
      val q = withStateParts(
        out.writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", s"$tmp/ckpt").start())
      val nCopies = math.max(1, copies / 2)
      val total = nCopies.toLong * embs.length
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < nCopies) {
          val off = i.toLong * 10000000L
          in.addData(embs.zipWithIndex.map { case ((id, v), j) =>
            graft.streaming.AnnIngest.VecIn(id + off,
              new java.sql.Timestamp(86400000L + j * 100L), v)
          }.toSeq)
          i += 1
        }
        q.processAllAvailable()
        breakdown(q, "ann_ingest_assign")
      } finally q.stop()
      val assignBand = ("ann_ingest_assign",
        total / ((System.nanoTime() - t0) / 1e9), total)

      // query-side band: streaming top-k retrieval against the static
      // det-IVF index (probe cells -> stream-static cell join -> exact
      // cosine -> windowed top-k). queries/s is the retrieval tier's
      // provisioning number.
      val probeBand = {
        val emb01 = graft.core.Tables
          .embeddings(spark, "/root/testdata/sf0.001")
        val qIn = MemoryStream[graft.streaming.AnnIngest.VecIn]
        val qOut = graft.streaming.AnnIngest.probeTopK(qIn.toDS(), emb01,
          "vec_id", "embedding", "label", plane, k = 5,
          lateness = "1 minute")
        val qTmp = Files.createTempDirectory("streambench_annq").toString
        val qq = withStateParts(
          qOut.writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", s"$qTmp/ckpt").start())
        val qCopies = math.max(1, copies / 8)
        val qTotal = qCopies.toLong * embs.length
        val t1 = System.nanoTime()
        try {
          var i = 0
          while (i < qCopies) {
            val off = i.toLong * 10000000L
            qIn.addData(embs.zipWithIndex.map { case ((id, v), j) =>
              graft.streaming.AnnIngest.VecIn(id + off,
                new java.sql.Timestamp(86400000L + j * 100L), v)
            }.toSeq)
            i += 1
          }
          // far-future flush closes every window so the measured drain
          // includes actual emission, not just ingestion
          qIn.addData(graft.streaming.AnnIngest.VecIn(-1L,
            new java.sql.Timestamp(86400000L * 30), embs.head._2))
          qq.processAllAvailable()
          breakdown(qq, "ann_probe_topk")
        } finally qq.stop()
        ("ann_probe_topk", qTotal / ((System.nanoTime() - t1) / 1e9),
          qTotal)
      }

      // serve-from-PERSISTED band: the retrieval tier's real topology —
      // the index is built offline, persisted as a version
      // (AnnIndexStore), and the serving query LOADS it (quantizer →
      // plane, routing table → probe relation) instead of deriving the
      // home cells at topology build. Same probe/score/top-k plan as
      // ann_probe_topk; the delta between the two bands is exactly the
      // index-derivation cost a persisted index removes.
      val servedBand = {
        val emb01 = graft.core.Tables
          .embeddings(spark, "/root/testdata/sf0.001")
        val storeTmp = Files.createTempDirectory("streambench_annidx")
        val store = VersionedStore(storeTmp.toString)
        val built = graft.operators.Ann.buildDetIvfIndex(
          emb01, "vec_id", "embedding", "label")
        graft.sources.AnnIndexStore.persist(spark, store, "ivf", built)
        val loaded = graft.sources.AnnIndexStore.load(spark, store, "ivf")
        val servePlane = graft.operators.Ann
          .detIvfCentroidPlaneOf(loaded.centroids)
        val home = graft.core.Lineage.pin(loaded.home
          .select(org.apache.spark.sql.functions.col("id").as("cand_id"),
            org.apache.spark.sql.functions.col("cell"))
          .join(emb01.select(
            org.apache.spark.sql.functions.col("vec_id").as("cand_id"),
            org.apache.spark.sql.functions.col("embedding")
              .cast("array<double>").as("cv")), "cand_id"))
        val qIn = MemoryStream[graft.streaming.AnnIngest.VecIn]
        val qOut = graft.streaming.AnnIngest.probeTopKFrom(qIn.toDS(),
          home, servePlane, k = 5, lateness = "1 minute")
        val qTmp = Files.createTempDirectory("streambench_annsrv").toString
        val qq = withStateParts(
          qOut.writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", s"$qTmp/ckpt").start())
        val qCopies = math.max(1, copies / 8)
        val qTotal = qCopies.toLong * embs.length
        val t1 = System.nanoTime()
        try {
          var i = 0
          while (i < qCopies) {
            val off = i.toLong * 10000000L
            qIn.addData(embs.zipWithIndex.map { case ((id, v), j) =>
              graft.streaming.AnnIngest.VecIn(id + off,
                new java.sql.Timestamp(86400000L + j * 100L), v)
            }.toSeq)
            i += 1
          }
          qIn.addData(graft.streaming.AnnIngest.VecIn(-1L,
            new java.sql.Timestamp(86400000L * 30), embs.head._2))
          qq.processAllAvailable()
          breakdown(qq, "ann_serve_persisted")
        } finally qq.stop()
        ("ann_serve_persisted", qTotal / ((System.nanoTime() - t1) / 1e9),
          qTotal)
      }

      // maintenance-mode bands: per-trigger index WRITE cost, the
      // number the delta machinery exists to change. Same five small
      // triggers folded over the same large pre-seeded routing table;
      // the snapshot fold rewrites O(index) per trigger, the delta fold
      // writes O(batch). rows/s counts only the newly ingested rows, so
      // the band pair reads directly as "per-trigger cost scales with
      // the index" vs "with the batch".
      // maintenance-band geometry (r14 verdict #4): the r14 record ran
      // 5 triggers over a 200k base — small enough that the IVF pair
      // inverted on run-to-run variance (the snapshot rewrite and the
      // amortized compaction cost sat inside the noise band). 20
      // triggers over a 1M base makes the asymmetry the bands exist to
      // show visible: the snapshot fold pays 20 full O(index)
      // rewrites, the delta fold 20 O(batch) writes + 5 amortized
      // compactions. Per-trigger seconds are recorded into the
      // breakdown line so an inversion, if one ever recurs, comes with
      // its trigger-level evidence in the artifact itself.
      val foldBaseRows = 1000000L
      val foldTriggers = 20
      val foldCompactEvery = 4
      def foldTriggerBreakdown(label: String,
                               secs: Seq[Double]): Unit =
        bandBreakdowns.append(
          s"""{"band":"$label","base_rows":$foldBaseRows,""" +
            s""""triggers":$foldTriggers,""" +
            s""""compact_every":$foldCompactEvery,"trigger_secs":[""" +
            secs.map(num).mkString(",") + "]}")
      val foldBands = {
        val baseRows = foldBaseRows
        val triggers = foldTriggers
        val batchRows = 1000L
        val cent = spark.range(64)
          .selectExpr("id AS cell", "id % 8 AS dim", "id * 1000 AS ci")
        def seeded(store: VersionedStore): Unit =
          graft.sources.AnnIndexStore.persistVersion(store, "m", 0L,
            graft.operators.Ann.IvfIndexRelations(cent,
              spark.range(baseRows).selectExpr("id", "id % 64 AS cell")))
        def batchDf(b: Int) = spark.range(batchRows)
          .selectExpr(s"id + $baseRows + $b * $batchRows AS vec_id",
            "id % 64 AS cell")
        def perTrigger(fold: Int => Unit): Seq[Double] =
          (0 until triggers).map { b =>
            val t = System.nanoTime(); fold(b)
            (System.nanoTime() - t) / 1e9
          }
        val snapStore = VersionedStore(
          Files.createTempDirectory("sb_foldsnap").toString)
        seeded(snapStore)
        val snapTrig = perTrigger(b =>
          graft.sources.AnnIndexStore.foldBatch(snapStore, "m", cent,
            baseVersion = 0L)(batchDf(b), b.toLong))
        foldTriggerBreakdown("ann_fold_snapshot", snapTrig)
        // the delta band runs the LONG-RUNNING-INGEST wiring: periodic
        // chain compaction included (every `compactEvery` triggers the
        // covered deltas fold into a snapshot), so the rate reads as
        // the sustained per-trigger cost of an unbounded ingest —
        // O(batch) writes plus the amortized O(index/compactEvery)
        // compaction — not the compaction-free best case
        val dltStore = VersionedStore(
          Files.createTempDirectory("sb_folddlt").toString)
        seeded(dltStore)
        val dltTrig = perTrigger(b =>
          graft.sources.AnnIndexStore.foldBatchDeltaCompacting(dltStore,
            "m", cent, baseVersion = 0L,
            compactEvery = foldCompactEvery)(batchDf(b), b.toLong))
        foldTriggerBreakdown("ann_fold_delta", dltTrig)
        val ingested = triggers * batchRows
        Seq(("ann_fold_snapshot", ingested / snapTrig.sum, ingested),
          ("ann_fold_delta", ingested / dltTrig.sum, ingested))
      }

      // the same snapshot-vs-delta write-cost pair for the two
      // COMPRESSED families (r12 directive 1): per-vector payload =
      // routing rows + PQ code words (ivfpq) / byte codes (sq8). The
      // delta band's rows/s should sit far above the snapshot band's —
      // per-trigger write ∝ batch, not index.
      val foldBandsCompressed = {
        val baseRows = foldBaseRows
        val triggers = foldTriggers
        val batchRows = 1000L
        val cent = spark.range(64)
          .selectExpr("id AS cell", "id % 8 AS dim", "id * 1000 AS ci")
        val cb = spark.range(128).selectExpr("id % 16 AS cw",
          "id DIV 16 AS j", "id % 8 AS dim", "id * 7 AS ci")
        val ranges = spark.range(8)
          .selectExpr("id AS dim", "CAST(0 AS BIGINT) AS vmin",
            "CAST(1000000 AS BIGINT) AS vmax")
        def codesOf(idCol: String) =
          s"transform(sequence(0, 7), j -> ($idCol + j) % 16) AS codes"
        def pqRows(n: Long, off: Long) = spark.range(n)
          .selectExpr(s"id + $off AS vec_id", "id % 64 AS cell",
            codesOf("id"))
        def sq8Rows(n: Long, off: Long) = spark.range(n)
          .selectExpr(s"id + $off AS vec_id", codesOf("id"))
        val ingested = triggers * batchRows
        def band(label: String, seed: VersionedStore => Unit,
                 fold: (VersionedStore, Int) => Unit) = {
          val store = VersionedStore(
            Files.createTempDirectory(s"sb_$label").toString)
          seed(store)
          val trig = (0 until triggers).map { b =>
            val t = System.nanoTime(); fold(store, b)
            (System.nanoTime() - t) / 1e9
          }
          foldTriggerBreakdown(label, trig)
          (label, ingested / trig.sum, ingested)
        }
        Seq(
          band("ann_fold_snapshot_pq",
            st => graft.sources.AnnIndexStore.foldBatchPq(st, "m", cent,
              cb, baseVersion = -1L)(pqRows(baseRows, 0), 0L),
            (st, b) => graft.sources.AnnIndexStore.foldBatchPq(st, "m",
              cent, cb, baseVersion = 0L)(
              pqRows(batchRows, baseRows + b * batchRows), b.toLong)),
          band("ann_fold_delta_pq",
            st => graft.sources.AnnIndexStore.foldBatchPq(st, "m", cent,
              cb, baseVersion = -1L)(pqRows(baseRows, 0), 0L),
            // long-running-ingest wiring: periodic compaction included
            // (see the IVF delta band note)
            (st, b) => graft.sources.AnnIndexStore
              .foldBatchDeltaPqCompacting(st, "m", cent, cb,
                baseVersion = 0L, compactEvery = 4)(
                pqRows(batchRows, baseRows + b * batchRows), b.toLong)),
          band("ann_fold_snapshot_sq8",
            st => graft.sources.AnnIndexStore.foldBatchSq8(st, "m",
              ranges, baseVersion = -1L)(sq8Rows(baseRows, 0), 0L),
            (st, b) => graft.sources.AnnIndexStore.foldBatchSq8(st, "m",
              ranges, baseVersion = 0L)(
              sq8Rows(batchRows, baseRows + b * batchRows), b.toLong)),
          band("ann_fold_delta_sq8",
            st => graft.sources.AnnIndexStore.foldBatchSq8(st, "m",
              ranges, baseVersion = -1L)(sq8Rows(baseRows, 0), 0L),
            (st, b) => graft.sources.AnnIndexStore
              .foldBatchDeltaSq8Compacting(st, "m", ranges,
                baseVersion = 0L, compactEvery = 4)(
                sq8Rows(batchRows, baseRows + b * batchRows), b.toLong)))
      }
      Seq(assignBand, probeBand, servedBand) ++ foldBands ++
        foldBandsCompressed
    }

    // ---- maintained near-dup ingest: corpusIngestIncremental's gates
    // + exact dedup in the streaming graph, then per-trigger band-
    // collision filtering against the PERSISTED MinHash index with the
    // survivors' signatures appended as a new index version
    // (NearDupIngest). docs/s includes the index read+rewrite — the
    // real per-trigger cost of keeping the dedup index fresh.
    val nearDupBand = {
      implicit val sp: SparkSession = spark
      import spark.implicits._
      val docs = graft.core.Tables
        .documents(spark, "/root/testdata/sf0.001")
      val offline = docs.filter(
        org.apache.spark.sql.functions.col("doc_id") < 100)
      val arriving = docs.filter(
          org.apache.spark.sql.functions.col("doc_id") >= 100)
        .select("doc_id", "text").as[(Long, String)].collect()
      val tmp = Files.createTempDirectory("streambench_neardup")
      val store = VersionedStore(s"$tmp/store")
      graft.streaming.NearDupIngest.seed(spark, store, "corpus", offline,
        "doc_id", "text")
      val corpusFps = offline.select(graft.functions.TextFunctions
        .fingerprint(org.apache.spark.sql.functions.col("text")).as("fp"))
      val in = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = withStateParts(graft.streaming.NearDupIngest.start(
        in.toDF().toDF("doc_id", "ts", "text"), corpusFps, store,
        "corpus", "ts", "doc_id", "text", s"$tmp/ckpt",
        lateness = "10 minutes"))
      val nCopies = math.max(1, copies / 8)
      val total = nCopies.toLong * arriving.length
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < nCopies) {
          val off = i.toLong * 10000000L
          in.addData(arriving.zipWithIndex.map { case ((id, t), j) =>
            (id + off, new java.sql.Timestamp(86400000L + j * 100L),
              // fresh ids AND token-disjoint bodies per copy (every
              // token suffixed with the copy index — one appended
              // marker token would keep ~all shingles and band-collide
              // with the previous copy's accepted docs, turning the
              // band into a rejection benchmark) so the maintained
              // index genuinely grows each trigger
              if (i == 0) t
              else t.split("\\s+").map(w => s"${w}c$i").mkString(" "))
          }.toSeq)
          i += 1
        }
        q.processAllAvailable()
        breakdown(q, "neardup_ingest_maintained")
      } finally q.stop()
      ("neardup_ingest_maintained",
        total / ((System.nanoTime() - t0) / 1e9), total)
    }

    val apps = (results.map { case (label, rate, total, _) =>
      f""""$label":{"lines_per_sec":$rate%.0f,"lines":$total}""" } ++
      (cardResults ++ evResults ++ mediaResults ++ annResults :+
        nearDupBand).map {
        case (label, rate, total) =>
          f""""$label":{"lines_per_sec":$rate%.0f,"lines":$total}""" })
      .mkString(",")
    val (_, wcRate, wcTotal, wcTop) = results.find(_._1 == "wordCount").get
    val sentinelEnd = sentinel()
    println(f"""{"metric":"stream_lines_per_sec","value":$wcRate%.0f,"lines":$wcTotal,"sentinel_sec":[${num(sentinelStart)},${num(sentinelEnd)}],"apps":{$apps},"top5":"$wcTop"}""")
    println(s"""{"metric":"stream_breakdown","state_partitions":$streamStateParts,"bands":[${bandBreakdowns.mkString(",")}]}""")
    spark.stop()
  }
}
