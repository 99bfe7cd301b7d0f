package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.GraftSession
import graft.sources.VersionedStore
import graft.streaming.CraneStream

/** Emit-rate sweep over the rate-limited replay spout, through the FULL
  * topology of each reference app — the rebuild's counterpart of the
  * reference's Fig. 2A-2F methodology (cs425_mp4.pdf: stream each corpus
  * at fixed emit rates on 10 VMs, measure total drain time; the
  * reference's time grows superlinearly past ~150 lines/s because the
  * engine falls behind). Here the expectation is the opposite: drain
  * time ≈ lines/rate at every rate for every app — the SOURCE rate limit
  * is the bottleneck, never the engine (unthrottled throughput is
  * StreamBench's ~12-29k lines/s per app).
  *
  * For each (app, rate): replay the first rate*15 lines of the app's own
  * reference corpus (shakespear → wordCount, twitter edges → twitter,
  * Calgary HTTP log → hothttp) at `rate` lines/s through the
  * complete-mode counting topology with per-trigger top-5 snapshot
  * writes; measure wall-clock until the spout has released every line
  * (tracked via the rate source's cumulative input rows) and the engine
  * has fully caught up (processAllAvailable). Prints one JSON line per
  * point and writes a markdown table per app to /tmp/rate_sweep.md.
  *
  * Usage: runMain graft.tools.RateSweep [rate1 rate2 ...] (default
  * 50 100 200 400)
  */
object RateSweep {
  def main(args: Array[String]): Unit = {
    val rates = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(50, 100, 200, 400)
    val data = "/root/reference/spark-streaming/data"
    val apps = Seq(
      ("wordCount", s"$data/shakespear"),
      ("twitter", s"$data/twitter"),
      ("hothttp", s"$data/calgary"))
    val spark = GraftSession()

    // cumulative rate-source rows per running query — the spout's emit
    // clock (each rate row releases exactly one corpus line while seq <
    // n, so "input rows >= n" == "every line has been released")
    val emitted = new ConcurrentHashMap[java.util.UUID, AtomicLong]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        emitted.computeIfAbsent(e.progress.id, _ => new AtomicLong)
          .addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val sb = new StringBuilder
    for ((app, src) <- apps) {
      sb.append(s"\n### $app\n\n")
      sb.append("| rate (lines/s) | lines | drain sec | ideal sec | overhead |\n")
      sb.append("| --- | --- | --- | --- | --- |\n")
      val all = Files.readAllLines(Paths.get(src)).toArray(Array.empty[String])
      for (rate <- rates) {
        val take = math.min(rate * 15, all.length)
        val tmp = Files.createTempDirectory(s"ratesweep_$app")
        val f = tmp.resolve("lines.txt")
        Files.write(f, String.join("\n", all.take(take): _*).getBytes)
        // expected count from the same reader replayLines uses
        val n = spark.read.textFile(f.toString).count()
        val store = VersionedStore(s"$tmp/store")
        val q = CraneStream.start(
          CraneStream.replayLines(spark, f.toString, linesPerSecond = rate),
          app, store, checkpointDir = s"$tmp/ckpt", k = 5,
          period = "0 seconds")
        val t0 = System.nanoTime()
        try {
          val deadline = System.currentTimeMillis() + (n / rate + 90) * 1000L
          def released: Long =
            Option(emitted.get(q.id)).map(_.get()).getOrElse(0L)
          while (released < n && System.currentTimeMillis() < deadline)
            Thread.sleep(100)
          require(released >= n,
            s"$app at $rate lines/s released only $released of $n")
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val ideal = n.toDouble / rate
          println(f"""{"metric":"topology_drain","app":"$app","rate_lps":$rate,"lines":$n,"sec":$sec%.2f,"ideal_sec":$ideal%.2f,"overhead_sec":${sec - ideal}%.2f}""")
          sb.append(
            f"| $rate | $n | $sec%.2f | $ideal%.2f | ${sec - ideal}%.2f |\n")
        } finally q.stop()
      }
    }
    Files.write(Paths.get("/tmp/rate_sweep.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
