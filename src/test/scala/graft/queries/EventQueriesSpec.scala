package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class EventQueriesSpec extends SparkSpec {

  test("approx distinct users within 5% of exact per event type") {
    // the query now carries its own verdict column (the oracle asserts
    // it); the spec re-derives the exact side independently and also
    // re-runs the raw sketch to keep a direct estimate-vs-exact bound
    val rows = EventQueries.defs("events_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.keySet shouldBe exact.keySet
    exact.foreach { case (k, n) =>
      rows(k) shouldBe ((n, 1L))
      assert(math.abs(sketch(k) - n).toDouble / n <= 0.05,
        s"$k: approx ${sketch(k)} vs exact $n")
    }
  }

  test("HLL weekly rollup: unioned day sketches within 5% of exact") {
    val got = EventQueries.defs("events_hll_weekly_rollup")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    exact.keySet shouldBe got.keySet
    exact.foreach { case (wk, n) =>
      got(wk) shouldBe ((n, 1L))
    }
  }

  test("growth accounting: actives decompose; churn ties to prior day") {
    val rows = EventQueries.defs("events_growth_accounting")(spark, sfDir)
      .collect()
    rows should not be empty
    rows.foreach { r =>
      val (actives, nu, ret, res) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(actives == nu + ret + res,
        s"day ${r.getString(0)}: $actives != $nu+$ret+$res")
    }
    // churned(d) = actives(d-1) - retained(d); day 1 has no prior day,
    // so its churned is -retained(day1) only when day0 is absent
    val byDay = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(3), r.getLong(5))).toMap
    byDay.foreach { case (day, (_, ret, churned)) =>
      val prev = java.time.LocalDate.parse(day).minusDays(1).toString
      val prevActives = byDay.get(prev).map(_._1).getOrElse(0L)
      assert(churned == prevActives - ret,
        s"$day: churned $churned != $prevActives - $ret")
    }
  }

  test("TopK aggregator equals the window formulation; bounded state") {
    import spark.implicits._
    // key 1: 5 scores incl. a tie at 30 (ids 7 < 9: 7 wins the tie slot);
    // key 2: fewer rows than k
    val rows = Seq((1L, 30L, 9L), (1L, 30L, 7L), (1L, 50L, 3L),
      (1L, 10L, 1L), (1L, 40L, 2L), (2L, 5L, 4L)).toDF("k", "s", "id")
      .repartition(4)
    val got = rows.groupBy("k")
      .agg(graft.functions.TopKAgg.topk_longs(col("s"), col("id"), 3).as("top"))
      .select(col("k"), posexplode(col("top")))
      .select(col("k"), col("pos"), col("col._1"), col("col._2"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe Set(
      (1L, 0, 50L, 3L), (1L, 1, 40L, 2L), (1L, 2, 30L, 7L),
      (2L, 0, 5L, 4L))
    // registered query agrees with the window formulation on real events
    val q = EventQueries.defs("events_topk_per_user")(spark, sfDir)
      .collect().map(_.mkString("|")).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("score_cents").desc, col("event_id").asc)
    val win = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100).cast("long").as("score_cents"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("user_id", "rank", "score_cents", "event_id")
      .collect().map(_.mkString("|")).toSet
    q shouldBe win
  }

  test("funnel: monotone stages; stage 1 equals distinct users with a view") {
    val rows = EventQueries.defs("events_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.keySet shouldBe Set(1L, 2L, 3L)
    assert(rows(1L) >= rows(2L) && rows(2L) >= rows(3L),
      s"funnel not monotone: $rows")
    val viewers = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(countDistinct("user_id")).head().getLong(0)
    rows(1L) shouldBe viewers
    assert(rows(3L) > 0, "no user completed the funnel — data too thin?")
  }

  test("retention: offset-0 cohort sizes partition the distinct users") {
    val ret = EventQueries.defs("events_retention")(spark, sfDir).collect()
    val offset0Sum = ret.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    val totalUsers = Tables.events(spark, sfDir)
      .select(countDistinct("user_id")).head().getLong(0)
    offset0Sum shouldBe totalUsers
    // offsets are non-negative: nobody is active before their first day
    all(ret.map(_.getLong(1))) should be >= 0L
  }

  test("salted aggregation equals the direct group-by") {
    val salted = EventQueries.defs("events_salted_agg")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    salted shouldBe direct
  }
}
