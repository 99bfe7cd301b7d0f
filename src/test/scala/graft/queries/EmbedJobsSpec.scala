package graft.queries

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
    val (rows, jobs) = jobsDuring(Seq("embed_linear_probe", "embed_pca_power")
      .map(q => SparkEntry.queries(q)(spark, sfDir).collect().length))
    rows shouldBe Seq(64, 64)
    assert(jobs <= 15, s"$jobs jobs")
  }
}
