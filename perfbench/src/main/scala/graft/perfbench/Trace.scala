package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds;
  * `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Spans {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  /** Self time summed per span kind. */
  def selfByKind(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        f""""name":"${Json.esc(s.name)}","start_ms":${Json.num(s.start)},""" +
        f""""end_ms":${Json.num(s.end)},"self_ms":${Json.num(self(s.id))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Minimal JSON rendering: the benchmark emits only flat objects. */
object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.lang.Double.toString(d)
}

/** Job and stage facts gathered from the listener bus. */
final case class JobRec(id: Int, group: String, batch: Option[Long],
                        start: Long, end: Long)
final case class StageRec(id: Int, job: Int, submit: Long, complete: Long,
                          tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** The traced run's recorder: Spark's public listeners plus spans the
  * benchmark opens around its own calls into the program. Everything
  * stays in memory until the run ends. */
final class Recorder {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = spans.add(s)

  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val taskFailures = new AtomicLong()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Planning time and execution count per query tag. */
  final class QeTally {
    val planMs = new AtomicLong()
    val executions = new AtomicInteger()
  }
  val qe = new ConcurrentHashMap[String, QeTally]()
  /** Tag of the query the client is running. Its executions are
    * attributed to it: the client drains the listener bus before it
    * moves on, so no event arrives after the tag changes. */
  @volatile var current: String = ""

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
      jobStarts.put(e.jobId, JobRec(e.jobId, group, batch, e.time, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.add(StageRec(i.stageId, stageToJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) taskFailures.incrementAndGet()
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(q: QueryExecution): Unit = {
      val t = qe.computeIfAbsent(current, _ => new QeTally)
      t.planMs.addAndGet(q.tracker.phases.values.map(_.durationMs).sum)
      t.executions.incrementAndGet()
    }
    override def onSuccess(f: String, q: QueryExecution, ns: Long): Unit =
      record(q)
    override def onFailure(f: String, q: QueryExecution,
                           ex: Exception): Unit = record(q)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Register the job, query-execution and streaming listeners. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)

  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.start)
  def allStages: Seq[StageRec] = stages.asScala.toSeq
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Job and stage spans under the span each job belongs to. */
  def addJobSpans(parentOf: JobRec => Option[Long]): Unit = {
    val stageByJob = allStages.groupBy(_.job)
    allJobs.foreach { j =>
      parentOf(j).foreach { p =>
        val jid = newId()
        add(Span(jid, p, "job", s"job ${j.id}", j.start, j.end))
        stageByJob.getOrElse(j.id, Nil).filter(_.submit > 0).foreach { s =>
          add(Span(newId(), jid, "stage", s"stage ${s.id}", s.submit,
            math.max(s.submit, s.complete)))
        }
      }
    }
  }
}
