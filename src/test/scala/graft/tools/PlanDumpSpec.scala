package graft.tools

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** PlanDump's rendering is a function of the plan, not of the
  * expression ids a run allocated: the multi-distinct aggregates whose
  * Expand order follows those ids render identically every time. */
class PlanDumpSpec extends SparkSpec {

  test("two dumps of the multi-distinct queries are byte-identical") {
    for (q <- Seq("distinct_agg", "events_profile", "events_chi2_type_dow",
        "events_cramers_v")) {
      def dump() = PlanDump.render(SparkEntry.queries(q)(spark, sfDir))
      val first = dump()
      first should include("Expand")
      first should not include regex("#\\d")
      withClue(q) { dump() shouldBe first }
    }
  }

  test("a four-distinct aggregate renders one canonical plan") {
    import spark.implicits._
    // twelve analyses allocate twelve id ranges, so the optimizer's
    // hash order of the distinct groups varies between them
    val df = Seq((1L, 2L, 3L, 4L, 5L)).toDF("k", "a", "b", "c", "d")
    val dumps = (1 to 12).map(_ => PlanDump.render(df.groupBy("k").agg(
      countDistinct("a"), countDistinct("b"), countDistinct("c"),
      countDistinct("d"), count(lit(1))))).distinct
    dumps should have size 1
    dumps.head should include("gid#x = 4")
  }

  test("two builds of one plan render identically: RDD ids, lambdas, " +
      "identity hashes, path nonces and the checkout directory masked") {
    import spark.implicits._
    val checkout = System.getProperty("user.dir")
    val pid = ProcessHandle.current().pid()
    val dir = s"$checkout/target/plandump_p${pid}_0123456789ab"
    spark.range(4).write.mode("overwrite").parquet(dir)
    // a fresh checkpointed RDD and a fresh lambda instance per build
    def build() = spark.read.parquet(dir).as[Long].map(_ + 1).toDF("v")
      .join(spark.range(4).toDF("v").localCheckpoint(), "v")
    val first = PlanDump.render(build())
    first should include("<checkout>/target/plandump_p<pid>_0123456789ab")
    first should include("RDD[x]")
    first should include("$$Lambda")
    first should not include checkout
    first should not include regex("RDD\\[\\d|Lambda[$/]|@\\p{XDigit}{6}")
    PlanDump.render(build()) shouldBe first
  }
}
