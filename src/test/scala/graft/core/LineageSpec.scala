package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.{Accumulators, BusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The lineage-cut module: a lazy cut read by two stages that start
  * together is still evaluated once per row, a cut keeps its upstream
  * SQL metrics registered after its lineage is dropped, `rounds` folds
  * without a job of its own, and `untilStable` stops at a fixed point
  * or reports its cap. */
class LineageSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withListener[T](l: SparkListener)(body: => T): T = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { val r = body; BusDrain(spark.sparkContext); r }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("a cut feeding both sides of one join evaluates each row once, " +
      "with the two reading stages running together") {
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    // the UDF is the only place a row's evaluation shows; it sleeps
    // (~250 ms a pass) so the first reader is still computing when the
    // second reading stage, submitted a planning step later, asks for
    // the same block
    val evaluate = udf { (x: Long) =>
      LineageSpec.evals.incrementAndGet()
      if (x % 8 == 0) Thread.sleep(1)
      x
    }.asNondeterministic()
    val rows = 2000L
    val trials = 20
    // (stage, launch, finish) of every task in the current trial
    val tasks = new ConcurrentLinkedQueue[(Int, Long, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.add((e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
    val perTrial = withListener(listener) {
      (1 to trials).map { _ =>
        tasks.clear()
        LineageSpec.evals.set(0)
        // one partition: each reading stage has one task, and both
        // tasks want the cut's only block. One partition satisfies any
        // distribution, so each branch repartitions: two shuffle map
        // stages over the cut, which AQE submits together.
        val cut = Lineage.cut(spark.range(0, rows, 1, 1)
          .select(evaluate(col("id")).as("x")))
        val counts = cut.select((col("x") % 10).as("k"))
          .repartition(4, col("k"))
          .groupBy("k").agg(count(lit(1)).as("n"))
        val sums = cut.select((col("x") % 10).as("k"), col("x"))
          .repartition(4, col("k"))
          .groupBy("k").agg(sum("x").as("s"))
        val out = counts.join(sums, "k").collect()
        out.map(_.getAs[Long]("n")).sum shouldBe rows
        out.map(_.getAs[Long]("s")).sum shouldBe rows * (rows - 1) / 2
        BusDrain(spark.sparkContext)
        val ts = tasks.asScala.toSeq
        val overlapped = ts.exists { case (s1, l1, f1) =>
          ts.exists { case (s2, l2, _) => s1 != s2 && l1 <= l2 && l2 < f1 }
        }
        (LineageSpec.evals.get(), overlapped)
      }
    }
    perTrial.map(_._1) shouldBe Seq.fill(trials)(rows)
    // the two reading stages ran at the same time (20 of 20 trials on
    // an idle 4-core host; at least half under load), and the count
    // above held in every trial: a second reader of a block being
    // written waits for it, it does not recompute it
    perTrial.count(_._2) should be >= trials / 2
  }

  /** A lazy cut of a shuffled plan, and its upstream plan's SQL metric
    * ids; the upstream DataFrame is unreachable once this returns. */
  private def cutWithMetricIds() = {
    val upstream = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    val cut = Lineage.cut(upstream)
    val ids = collectWithSubqueries(upstream.queryExecution.executedPlan)(
      _.metrics.values.map(_.id)).flatten
    (cut, ids)
  }

  test("a cut's upstream SQL metrics stay registered after the " +
      "checkpoint drops its lineage") {
    // a late task that computed a block through that lineage reports
    // updates to these metrics; a collected one logs "ERROR
    // DAGScheduler: Failed to update accumulator"
    val (cut, ids) = cutWithMetricIds()
    ids should not be empty
    // the first job over the cut persists it and drops its lineage
    cut.groupBy("k").count().collect() should have length 7
    (1 to 3).foreach(_ => System.gc())
    ids.filterNot(Accumulators.registered) shouldBe empty
    cut.count() shouldBe 7
  }

  test("rounds folds n rounds, passing the round index, with no job") {
    val (folded, jobs) = jobsDuring {
      Lineage.rounds(spark.range(1).toDF(), 3)((df, i) =>
        df.select((col("id") * 10 + i).as("id")))
    }
    jobs shouldBe 0
    folded.collect().map(_.getLong(0)) shouldBe Array(123L)
  }

  // a one-row counter that climbs by one per round and stops at 3
  private def climb(maxRounds: Int) = {
    var steps = 0
    val out = Lineage.untilStable(spark.range(1).toDF(), maxRounds) { df =>
      steps += 1
      df.select(least(col("id") + 1, lit(3L)).as("id"))
    }((prev, next) => next.except(prev))
    (out.map(_.collect().map(_.getLong(0)).toSeq), steps)
  }

  test("untilStable returns Some at a fixed point") {
    // rounds 1-3 change the row; round 4 repeats it
    climb(maxRounds = 10) shouldBe (Some(Seq(3L)), 4)
  }

  test("untilStable returns None when every round up to the cap changed") {
    climb(maxRounds = 3) shouldBe (None, 3)
  }
}

object LineageSpec {
  /** Evaluations of the counting UDF (tasks run in this JVM). */
  val evals = new AtomicLong()
}
