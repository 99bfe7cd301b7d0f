package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup is ~5 s, per-suite sessions would dominate test time). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s value and the Spark jobs submitted while it ran, counted
    * after the listener bus has drained. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      BusDrain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Pinned to 4 cores: the suite's expectations are sized for local[4],
    * whatever SPARK_GRAFT_CPUS the surrounding run exports. */
  lazy val session: SparkSession = GraftSession(cores = 4)
}
