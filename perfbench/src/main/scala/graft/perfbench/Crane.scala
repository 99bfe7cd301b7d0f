package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.VersionedStore
import graft.streaming.CraneStream

/** Seeded input lines for Crane's wordCount topology: prose over a
  * 20k-word Zipf(1.0) vocabulary, 1-12 words a line, 5% blank or
  * whitespace-only lines. The same seed gives the same lines in the
  * same order. */
final class LineGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab = LineGen.vocabulary(seed, LineGen.Vocabulary)
  private val cdf = LineGen.zipfCdf(vocab.length, 1.0)

  def next(): String = {
    val u = rnd.nextInt(100)
    if (u < 3) "" else if (u < 5) "   "
    else Iterator.fill(1 + rnd.nextInt(12))(vocab(LineGen.draw(cdf, rnd.nextDouble())))
      .mkString(" ")
  }

  def take(n: Int): Array[String] = Array.fill(n)(next())
}

object LineGen {
  val Vocabulary = 20000

  /** `n` distinct lowercase words, in rank order. A word's length
    * follows its rank (2 letters for the most frequent, up to 10), as in
    * prose, so the volume of text does not depend on the seed; the seed
    * picks the letters. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val len = math.min(10, 2 + (31 - Integer.numberOfLeadingZeros(out.size + 1)) / 2)
      out += Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString
    }
    out.toArray
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Index of the first CDF entry >= u. */
  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** The words of a line as the topology splits it: whitespace tokens,
    * empties dropped. */
  def words(line: String): Seq[String] =
    line.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  /** Exact top-k by count descending, word ascending. */
  def topK(counts: collection.Map[String, Long], k: Int): Seq[(String, Long)] =
    counts.toSeq.sortWith { case ((a, x), (b, y)) => x > y || (x == y && a < b) }
      .take(k)
}

/** The streaming workload: Crane's wordCount topology through
  * `CraneStream.start` (complete mode, one top-5 `VersionedStore`
  * version per trigger), fed by an open-loop generator that writes
  * seeded line files into the spout directory the query reads. A run
  * measures, in this order,
  *  1. set-up (session and stream query started), repeated;
  *  2. warm-up drains, untimed;
  *  3. result latency at one fixed offered rate for the run's window;
  *  4. drains: a fixed pre-generated volume made available at once and
  *     timed to its committed snapshot (no rate limit), repeated.
  * After every phase the newest snapshot is checked against the exact
  * top-5 of every line written so far. */
object Crane {

  val App = "wordCount"
  val Table = "wordCount_result"
  val DrainLines = 100000
  /** The offered rate: about a sixth of the drain capacity on a 4-core
    * host, so latency measures per-trigger coordination rather than a
    * queue that the rate itself builds. */
  val LinesPerSecond = 20000

  val TickMs = 100
  val Drains = 6
  val WarmDrains = 2
  /** Set-ups in a run; the first also builds the context, the others
    * only start the stream query, which is quick and so noisier. */
  val SetupRepeats = 5
  /** A generator later than this against its schedule invalidates the
    * run's latency figures. */
  val MaxLateMs = 500.0
  val K = 5

  private final class Stream(env: Env, val spark: SparkSession, name: String) {
    val spout: File = env.freshDir(s"$name/spout")
    val staging: File = env.freshDir(s"$name/staging")
    val store = VersionedStore(env.freshDir(s"$name/store").getAbsolutePath)
    val checkpoint: String = env.freshDir(s"$name/checkpoint").getAbsolutePath
    private var files = 0
    val counts = mutable.HashMap.empty[String, Long]

    val query: StreamingQuery = {
      // no per-trigger file limit: a trigger takes every published file
      val src = CraneStream.fileLines(spark, spout.getAbsolutePath,
        maxFilesPerTrigger = 100000)
      CraneStream.start(src, App, store, checkpoint, k = K, period = "0 seconds")
    }

    /** Wait until the query has made its first (empty) pass. */
    def awaitReady(): Unit = {
      val limit = System.nanoTime() + 60000000000L
      while (!query.status.message.startsWith("Waiting") && query.isActive &&
             System.nanoTime() < limit) Thread.sleep(2)
    }

    /** Write `ls` as a file beside the spout and add its words to the
      * reference counts; `publish` then renames it into the spout
      * atomically, so the source never sees a partial file. */
    def stage(ls: Array[String]): File = {
      val f = new File(staging, f"part-$files%08d.txt")
      files += 1
      Files.write(f.toPath, ls.mkString("", "\n", "\n").getBytes(UTF_8))
      ls.foreach(l => LineGen.words(l).foreach(k => counts(k) = counts.getOrElse(k, 0L) + 1))
      f
    }
    def publish(f: File): Unit =
      Files.move(f.toPath, new File(spout, f.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)

    def progress: Seq[StreamingQueryProgress] =
      query.recentProgress.toSeq.filter(_.numInputRows > 0)

    /** Newest committed snapshot equals the exact top-k, and there is
      * one version per committed batch. */
    def check(out: Outcome, phase: String): Unit = {
      if (!query.isActive)
        out.fail(s"$phase: stream query terminated: ${query.exception.map(_.toString).getOrElse("")}")
      else {
        val got = store.get(spark, Table).collect()
          .map(r => (r.get(0).toString, r.getLong(1)))
          .sortWith { case ((a, x), (b, y)) => x > y || (x == y && a < b) }.toSeq
        val want = LineGen.topK(counts, K)
        if (got != want) out.fail(s"$phase: top-$K $got, expected $want")
        val versions = store.versions(spark, Table).size
        val batches = progress.map(_.batchId).distinct.size
        if (versions != batches)
          out.fail(s"$phase: $versions versions for $batches committed batches")
      }
    }

    def stop(): Unit = query.stop()
  }

  def commitMs(store: VersionedStore, table: String, v: Long): Double = {
    val marker = new File(s"${store.root}/$table/version=$v/${VersionedStore.CommitMarker}")
    Files.getLastModifiedTime(marker.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
  }

  /** Seconds from making `lines` pre-generated lines available at once
    * to their committed snapshot. */
  private def drain(st: Stream, gen: LineGen, lines: Int): Double = {
    val files = (0 until 10).map(_ => st.stage(gen.take(lines / 10)))
    val t0 = System.nanoTime()
    files.foreach(st.publish)
    st.query.processAllAvailable()
    (System.nanoTime() - t0) / 1e9
  }

  def run(env: Env): Outcome = {
    val out = new Outcome
    val gen = new LineGen(env.seed)

    // set-up, repeated: the first builds the context, each builds a
    // session and starts the stream query on empty directories
    val setups = mutable.ArrayBuffer.empty[Double]
    var st: Stream = null
    (1 to SetupRepeats).foreach { i =>
      if (st != null) st.stop()
      val (s, sec) = Env.timed {
        val spark = if (st == null) env.session() else st.spark.newSession()
        val x = new Stream(env, spark, s"stream$i")
        x.awaitReady()
        x
      }
      st = s
      setups += sec
    }
    out.metrics("setup_s") = Stats.median(setups.toSeq)
    out.note(f"setup_s: median of ${setups.size} set-ups " +
      setups.map(x => f"$x%.3f").mkString("[", ", ", "]"))

    // warm-up: the first batches pay code generation and JIT
    (1 to WarmDrains).foreach { _ =>
      drain(st, gen, DrainLines)
      out.attempted += 1
      st.check(out, "warm-up")
    }

    // drains before the fixed-rate phase: their triggers finish warming
    // the per-trigger path, so the latency figures do not ride the JIT
    val drains = (1 to Drains).map { _ =>
      val sec = drain(st, gen, DrainLines)
      out.attempted += 1
      st.check(out, "drain")
      sec
    }
    val drainS = Stats.median(drains)
    out.metrics("batch_total_s") = drainS
    out.note(f"batch_total_s: median of $Drains drains of ${DrainLines} " +
      "pre-generated lines to a committed snapshot, " +
      drains.map(x => f"$x%.3f").mkString("[", ", ", "] s") +
      f" = ${DrainLines / drainS}%.0f lines/s")

    // a traced run attaches its listeners for the fixed-rate phase and
    // then drains once more traced: the ratio to the untraced median is
    // the tracing overhead
    val rec = if (env.trace) Some(new Recorder) else None
    rec.foreach(_.attach(st.spark))
    val rate = fixedRate(env, st, gen, out)
    rec.foreach { r =>
      val traced = drain(st, gen, DrainLines)
      out.attempted += 1
      st.check(out, "traced drain")
      out.metrics("trace.overhead_ratio") = traced / drainS - 1
      out.note(f"trace.overhead_ratio: traced drain $traced%.3f s over the untraced median")
      rate.foreach { case (versions, maxLate, backlog) =>
        layers(env, r, st, versions, maxLate, backlog, out) }
    }
    st.stop()
    env.stop(st.spark)
    out
  }

  /** The open-loop phase: file k holds the lines due in tick k and is
    * published at its due time t0 + (k + 1) * tick, whatever the query
    * is doing. Returns the phase's versions, how late the generator ran
    * and the largest backlog, unless the phase failed. */
  private def fixedRate(env: Env, st: Stream, gen: LineGen,
                        out: Outcome): Option[(Seq[StreamingQueryProgress], Double, Long)] = {
    val before = st.progress.map(_.batchId).toSet
    val perTick = LinesPerSecond * TickMs / 1000
    val ticks = env.seconds * 1000 / TickMs
    val t0 = Env.nowMs
    def due(k: Long): Double = t0 + (k + 1) * TickMs
    val late = mutable.ArrayBuffer.empty[Double]
    val published = mutable.ArrayBuffer.empty[Double]
    (0 until ticks).foreach { k =>
      val f = st.stage(gen.take(perTick))
      val wait = due(k) - Env.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      st.publish(f)
      val now = Env.nowMs
      late += now - due(k)
      published += now
    }
    st.query.processAllAvailable()
    out.attempted += 1
    st.check(out, "fixed rate")

    // each version holds whole files: (commit time, files covered)
    val versions = st.progress.filterNot(p => before(p.batchId)).sortBy(_.batchId)
    val covered = versions.map(_.numInputRows).scanLeft(0L)(_ + _).tail
    if (covered.exists(_ % perTick != 0) || covered.lastOption.getOrElse(0L) != ticks.toLong * perTick) {
      out.fail(s"fixed rate: ${ticks * perTick} lines offered, versions covered $covered")
      return None
    }
    val commits = versions.map(p => commitMs(st.store, Table, p.batchId))
      .zip(covered.map(_ / perTick))
    // a file's latency: commit of the first version holding it minus
    // the file's due time, so a stalled trigger delays every file
    // waiting behind it
    val lat = (0L until ticks).map(k => commits.find(_._2 > k).get._1 - due(k))
    val newest = commits.map { case (c, n) => c - due(n - 1) }
    out.metrics("latency_p50_ms") = Stats.median(lat)
    val (level, tail) = Stats.tail(lat)
    out.metrics("latency_tail_ms") = tail
    out.note(f"result latency at ${LinesPerSecond} lines/s over ${lat.size} files " +
      f"in ${versions.size} versions: p50 ${Stats.median(lat)}%.1f ms, tail p$level%.1f " +
      f"$tail%.1f ms; per version from its newest line, p50 ${Stats.median(newest)}%.1f ms")
    val backlog = published.zipWithIndex.map { case (w, k) =>
      (k + 1L) - commits.filter(_._1 <= w).map(_._2).maxOption.getOrElse(0L)
    }.max * perTick
    val maxLate = late.max
    if (maxLate > MaxLateMs)
      out.problems += f"generator fell $maxLate%.0f ms behind its schedule: latency figures invalid"
    out.note(f"generator: max $maxLate%.1f ms late, max backlog $backlog lines")
    Some((versions, maxLate, backlog))
  }

  private def layers(env: Env, r: Recorder, st: Stream,
                     phase: Seq[StreamingQueryProgress], maxLate: Double,
                     backlog: Long, out: Outcome): Unit = {
    r.drain(st.spark)
    val ps = r.progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val m = out.metrics
    val triggers = ps.size.toDouble
    m("stream.triggers") = triggers
    m("stream.rows_per_trigger") = Stats.median(ps.map(_.numInputRows.toDouble))
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets")
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    phases.foreach { k =>
      m(s"stream.${k}_ms") = Stats.median(ps.map(d(_, k)))
      m(s"stream.${k}_ms_sum") = ps.map(d(_, k)).sum
    }
    val adds = phase.map(d(_, "addBatch"))
    if (adds.size >= 4) {
      val q = adds.size / 4
      m("stream.addBatch_growth") = Stats.median(adds.takeRight(q)) / Stats.median(adds.take(q))
    }
    val states = ps.flatMap(_.stateOperators.toSeq)
    m("state.rows_total") = ps.last.stateOperators.map(_.numRowsTotal.toDouble).sum
    m("state.rows_updated") = states.map(_.numRowsUpdated.toDouble).sum / triggers
    m("state.memory_bytes") = ps.last.stateOperators.map(_.memoryUsedBytes.toDouble).sum
    m("state.commit_ms") = Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))

    // one trigger's jobs carry its batch id
    val jobs = r.allJobs.filter(_.batch.nonEmpty)
    Layers.exec(jobs, r, env.cores, triggers, out)

    val (_, listMs) = Env.timed(st.store.versions(st.spark, Table))
    val (_, readMs) = Env.timed(st.store.get(st.spark, Table).collect())
    m("sink.versions_written") = st.store.versions(st.spark, Table).size
    m("sink.bytes_written") = Files.walk(new File(st.store.root).toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble
    m("sink.list_versions_ms") = listMs * 1000
    m("sink.read_latest_ms") = readMs * 1000
    m("gen.late_ms") = maxLate
    m("gen.backlog_rows_max") = backlog.toDouble

    // spans: trigger -> its phases, laid end to end in execution order
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = r.newId()
      r.add(Span(id, 0, "trigger", s"batch ${p.batchId}", start, start + d(p, "triggerExecution")))
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { k =>
        r.add(Span(r.newId(), id, "phase", k, t, t + d(p, k)))
        t += d(p, k)
      }
    }
    out.spans = r.allSpans
  }
}
