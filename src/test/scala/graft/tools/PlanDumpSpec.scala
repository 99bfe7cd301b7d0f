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
}
