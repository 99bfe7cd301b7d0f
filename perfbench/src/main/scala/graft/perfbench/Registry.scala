package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.core.{Memo, Tables}

/** The batch query registry, driven through `SparkEntry.queries` by one
  * closed-loop client on one session. A pass runs every selected family
  * once — families in an order drawn from the seed, queries in name
  * order within a family, and a family is never split (its queries
  * share memoized intermediates). Every result is fully materialized
  * (`collect`, all rows and columns) and its digest checked. The memo is
  * cleared after each pass so every pass does the same work. One
  * warm-up pass runs before the window; passes then repeat until the
  * window ends. */
object Registry {

  /** Family of a registered query: its first name segment. */
  def family(name: String): String = name.takeWhile(_ != '_')

  /** `embed`: iterative (power iteration, a 6-epoch linear probe of ~80
    * jobs) and memo-coupled (covariance triangle and probe weights are
    * shared across the family). */
  val Families: Seq[String] = Seq("embed")

  /** Measured passes at the least, whatever the window. */
  val MinPasses = 2

  /** Set-ups in a run; the first also builds the context. */
  val SetupRepeats = 3

  /** The selected queries grouped by family, in seeded family order. */
  def queue(families: Seq[String], seed: Long): Seq[(String, Seq[String])] = {
    val byFamily = SparkEntry.queries.keys.toSeq
      .groupBy(family).filter { case (f, _) => families.contains(f) }
    require(byFamily.keySet == families.toSet,
      s"families missing from the registry: ${families.filterNot(byFamily.contains)}")
    new scala.util.Random(seed).shuffle(byFamily.toSeq.sortBy(_._1))
      .map { case (f, qs) => f -> qs.sorted }
  }

  /** One query execution; times are epoch milliseconds (t1 ends the
    * query function, t2 the materialization). */
  final case class Run(name: String, pass: Int, t0: Double, t1: Double,
                       t2: Double, error: Option[String], digest: String,
                       memoBuilt: Int) {
    def latencyS: Double = (t2 - t0) / 1000.0
    def tag: String = s"$pass|$name"
  }

  /** Expected digests, "name<TAB>digest" per line. */
  def loadDigests(f: File): Map[String, String] =
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split('\t')).collect { case Array(n, d) => n -> d }.toMap
      finally src.close()
    }

  /** Successful executions whose digest differs from the recorded one;
    * a query with no recorded digest differs too. */
  def mismatches(runs: Seq[Run], expected: Map[String, String]): Seq[String] =
    runs.filter(_.error.isEmpty).collect {
      case r if !expected.get(r.name).contains(r.digest) =>
        s"${r.name}: digest ${r.digest}, expected ${expected.getOrElse(r.name, "none")}"
    }

  private def runOne(s: SparkSession, dir: String, pass: Int, name: String,
                     rec: Option[Recorder]): Run = {
    val tag = s"$pass|$name"
    s.sparkContext.setJobGroup(tag, name, interruptOnCancel = false)
    rec.foreach(_.current = tag)
    val before = Memo.keys(s)
    val t0 = Env.nowMs
    var t1 = Double.NaN
    var rows: Array[Row] = Array.empty
    val error =
      try {
        val df = SparkEntry.queries(name)(s, dir)
        t1 = Env.nowMs
        rows = df.collect()
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.toString.take(300)}")
      }
    val t2 = Env.nowMs
    rec.foreach(_.drain(s))
    s.sparkContext.clearJobGroup()
    System.err.println(f"[perfbench] pass $pass $name ${(t2 - t0) / 1000}%.3f s" +
      error.fold("")(e => s" FAILED $e"))
    Run(name, pass, t0, if (t1.isNaN) t2 else t1, t2, error,
      if (error.isEmpty) Digest.of(rows.toSeq) else "", (Memo.keys(s) -- before).size)
  }

  /** One pass over every family; returns its runs, wall seconds and the
    * memo keys live at its end. */
  private def pass(s: SparkSession, dir: String, n: Int,
                   families: Seq[(String, Seq[String])],
                   rec: Option[Recorder]): (Seq[Run], Double, Int) = {
    // start every pass from a collected heap, so one pass's garbage and
    // unreferenced memo blocks are not billed to the next
    System.gc()
    val ((runs, live), sec) = Env.timed {
      val rs = families.flatMap(_._2).map(runOne(s, dir, n, _, rec))
      (rs, Memo.keys(s).size)
    }
    Memo.clearKeys(s, Memo.keys(s))
    s.catalog.clearCache()
    (runs, sec, live)
  }

  def run(env: Env, digestFile: File, record: Boolean): Outcome = {
    val out = new Outcome
    val families = queue(Families, env.seed)
    val dir = env.tables

    // set-up, repeated: the first builds the context, each builds a
    // session and lists the tables and reads their footers
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { _ =>
      val (s, sec) = Env.timed {
        val s = if (spark == null) env.session() else spark.newSession()
        Tables.loaders.foreach { case (_, load) => load(s, dir).schema }
        s
      }
      spark = s
      setups += sec
    }
    out.metrics("setup_s") = Stats.median(setups.toSeq)
    out.note(f"setup_s: median of ${setups.size} set-ups " +
      setups.map(x => f"$x%.3f").mkString("[", ", ", "]"))

    val (warm, _, _) = pass(spark, dir, 0, families, None)
    // a traced run first times one untraced pass, the base of the
    // tracing-overhead figure, then attaches the listeners
    val rec = if (env.trace) Some(new Recorder) else None
    val baseline = rec.map { r =>
      val b = pass(spark, dir, -1, families, None)
      r.attach(spark)
      b
    }
    // passes fill the window: another starts while at least half a
    // pass fits before the window ends, so the count of measured passes
    // does not swing with the host's speed
    val measured = mutable.ArrayBuffer.empty[(Seq[Run], Double, Int)]
    val deadline = System.nanoTime() / 1e9 + env.seconds
    while (measured.size < MinPasses ||
           System.nanoTime() / 1e9 + measured.last._2 / 2 < deadline)
      measured += pass(spark, dir, measured.size + 1, families, rec)
    val runs = warm ++ baseline.toSeq.flatMap(_._1) ++ measured.flatMap(_._1)

    // outputs: every execution's digest against the recorded set
    out.attempted = runs.size
    runs.flatMap(_.error).foreach(out.fail)
    if (record) {
      val seen = runs.filter(_.error.isEmpty).groupBy(_.name)
        .map { case (n, rs) => n -> rs.map(_.digest).distinct }
      seen.filter(_._2.size > 1).keys
        .foreach(n => out.fail(s"$n: digest differs between executions"))
      val merged = loadDigests(digestFile) ++ seen.map { case (n, ds) => n -> ds.head }
      java.nio.file.Files.writeString(digestFile.toPath,
        merged.toSeq.sorted.map { case (n, d) => s"$n\t$d" }.mkString("", "\n", "\n"))
      out.note(s"recorded ${seen.size} digests into ${digestFile.getName}")
    } else mismatches(runs, loadDigests(digestFile)).foreach(out.fail)

    // failures rank above every success, so a query that breaks can
    // only make the latency figures worse
    val passTimes = measured.map(_._2).toSeq
    val samples = measured.flatMap(_._1).toSeq
    val ranked = samples.map(r => r.latencyS + (if (r.error.isDefined) 1e6 else 0.0))
    out.metrics("batch_total_s") = Stats.median(passTimes)
    out.metrics("latency_p50_ms") = Stats.median(ranked) * 1000
    val (level, tail) = Stats.tail(ranked)
    out.metrics("latency_tail_ms") = tail * 1000
    out.note(f"batch_total_s: median of ${passTimes.size} passes of " +
      f"${samples.size / passTimes.size} queries in ${families.size} " +
      "families; passes " + passTimes.map(x => f"$x%.3f").mkString("[", ", ", "]"))
    out.note(f"latency_tail_ms is p$level%.1f of ${ranked.size} query latencies")

    rec.foreach { r =>
      layers(env, r, samples, measured.size, Stats.median(measured.map(_._3.toDouble).toSeq), out)
      val base = baseline.get._2
      out.metrics("trace.overhead_ratio") = Stats.median(passTimes) / base - 1
      out.note(f"trace.overhead_ratio: traced pass median ${Stats.median(passTimes)}%.3f s " +
        f"over one untraced pass $base%.3f s")
    }
    env.stop(spark)
    out
  }

  /** Per-layer figures of the traced run, per measured pass. */
  private def layers(env: Env, r: Recorder, measured: Seq[Run], passes: Int,
                     liveKeys: Double, out: Outcome): Unit = {
    val per = passes.toDouble
    val byTag = r.allJobs.groupBy(_.group)
    def jobsOf(x: Run) = byTag.getOrElse(x.tag, Nil)

    // spans: query -> construct / action -> job -> stage
    val parents = measured.map { x =>
      val q = r.newId(); val c = r.newId(); val a = r.newId()
      r.add(Span(q, 0, "query", x.tag, x.t0, x.t2))
      r.add(Span(c, q, "construct", x.name, x.t0, x.t1))
      r.add(Span(a, q, "action", x.name, x.t1, x.t2))
      x.tag -> (c, a, x.t1)
    }.toMap
    r.addJobSpans(j => parents.get(j.group).map { case (c, a, t1) =>
      if (j.start < t1) c else a })

    val m = out.metrics
    m("queries.construct_s") = measured.map(x => x.t1 - x.t0).sum / 1000 / per
    m("queries.construct_jobs") = measured.map(x => jobsOf(x).count(_.start < x.t1)).sum / per
    val qe = measured.flatMap(x => Option(r.qe.get(x.tag)))
    m("driver.plan_s") = qe.map(_.planMs.get).sum / 1000.0 / per
    m("driver.executions") = qe.map(_.executions.get).sum / per
    m("driver.outside_jobs_s") = measured.map { x =>
      val inAction = jobsOf(x).map(j => (j.start.toDouble, j.end.toDouble))
      (x.t2 - x.t1) - Spans.covered(inAction, x.t1, x.t2)
    }.sum / 1000.0 / per
    Layers.exec(measured.flatMap(jobsOf), r, env.cores, per, out)
    m("memo.builds") = measured.map(_.memoBuilt).sum / per
    m("memo.live_keys") = liveKeys
    val famSums = measured.groupBy(x => family(x.name))
      .filter(_._2.exists(_.memoBuilt > 0))
      .map { case (f, xs) => f -> xs.map(_.latencyS).sum / per }
    m("memo.family_s") = famSums.values.sum
    out.note("memo.family_s per family: " +
      famSums.toSeq.sorted.map { case (f, s) => f"$f=$s%.3f" }.mkString(", "))
    out.spans = r.allSpans
  }
}
