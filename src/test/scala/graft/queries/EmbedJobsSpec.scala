package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SparkEntry, SparkSpec}
import graft.core.Memo

/** Job-count guard for the embed family's fixed-step iterations: the
  * power iteration and the linear probe run their d×d steps on the
  * driver, so Spark only runs the covariance and cross-covariance
  * reductions and the memo builds. A Spark job per step would put the
  * pair well over 100 jobs. */
class EmbedJobsSpec extends SparkSpec {

  test("embed_linear_probe + embed_pca_power submit at most 15 jobs") {
    // start cold: the shared triangle and probe weights are built here
    Memo.clearKeys(spark, Memo.keys(spark).filter(k =>
      k.startsWith("cov_tri:") || k.startsWith("linear_probe:")))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Seq("embed_linear_probe", "embed_pca_power")
        .map(q => SparkEntry.queries(q)(spark, sfDir).collect().length)
      rows shouldBe Seq(64, 64)
      BusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 15, s"${jobs.get()} jobs")
  }
}
