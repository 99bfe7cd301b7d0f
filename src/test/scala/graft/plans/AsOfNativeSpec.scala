package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Joins

/** The native sort-merge as-of exec must return exactly the rows the
  * composed (union + window) form returns, on the real events table and
  * on adversarial hand data (ties, null keys, null timestamps, empty
  * right side) — and its physical plan must actually be AsOfJoinExec, not
  * something Catalyst silently substituted. */
class AsOfNativeSpec extends SparkSpec {

  import spark.implicits._

  private lazy val ev = Tables.events(spark, sfDir)
  private lazy val purchases = ev.filter(col("event_type") === "purchase")
    .select("event_id", "user_id", "ts")
  private lazy val clicks = ev.filter(col("event_type") === "click")
    .select(col("user_id"), col("ts"), col("event_id").as("click_id"))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def sameAsComposed(tol: Option[Long]): Unit = {
    val native = AsOfNative.join(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("click_id"), toleranceSec = tol)
    val composed = Joins.asOf(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("click_id"), toleranceSec = tol)
    native.columns.toSeq shouldBe composed.columns.toSeq
    rows(native) shouldBe rows(composed)
  }

  test("native as-of equals composed as-of on events") {
    sameAsComposed(None)
  }

  test("native as-of with tolerance equals composed") {
    sameAsComposed(Some(3600L))
  }

  test("native forward as-of equals composed forward on events") {
    val native = AsOfNative.join(clicks.withColumnRenamed("click_id", "cid"),
      purchases.select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id")),
      Seq("user_id"), "ts", "ts", Seq("purchase_id"), forward = true)
    val composed = Joins.asOf(clicks.withColumnRenamed("click_id", "cid"),
      purchases.select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id")),
      Seq("user_id"), "ts", "ts", Seq("purchase_id"), forward = true)
    rows(native) shouldBe rows(composed)
  }

  test("hand data: forward matches earliest-at-or-after; ties to max id") {
    val right = mkSide(Seq(
      (1L, 20L, "a"), (1L, 20L, "b"), (1L, 40L, "c")), "rid")
    val left = mkSide(Seq(
      (1L, 20L, "p1"), (1L, 25L, "p2"), (1L, 50L, "p3")), "lid")
    val got = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
        Seq("rid"), forward = true)
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    got shouldBe Map(
      "p1" -> Some("b"), "p2" -> Some("c"), "p3" -> None)
    // forward tolerance: match farther ahead than the bound nulls out
    val tol = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
        Seq("rid"), toleranceSec = Some(10L), forward = true)
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    tol shouldBe Map("p1" -> Some("b"), "p2" -> None, "p3" -> None)
  }

  /** Flatten an (possibly adaptive) executed plan, recursing through
    * AdaptiveSparkPlanExec and materialized query stages, which `collect`
    * alone would treat as leaves. */
  private def flattenExec(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flattenExec)
  }

  test("the physical plan is AsOfJoinExec") {
    val native = AsOfNative.join(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("click_id"))
    native.count() // finalize any adaptive plan
    val plan = native.queryExecution.executedPlan
    assert(flattenExec(plan).exists(_.isInstanceOf[AsOfJoinExec]),
      s"expected an AsOfJoinExec node in:\n$plan")
  }

  private def mkSide(rows: Seq[(java.lang.Long, java.lang.Long, String)],
                     idCol: String): DataFrame =
    rows.toDF("k", "sec", idCol)
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col(idCol))

  test("hand data: ties, null keys, null ts, unmatched rows") {
    // right rows: key 1 has ties at t=10 (ids a<b — b must win); key 2
    // has one row after every left row (never matches); a null-key and a
    // null-ts right row must be ignored entirely
    val right = mkSide(Seq(
      (1L, 10L, "a"), (1L, 10L, "b"), (1L, 20L, "c"),
      (2L, 99L, "z"),
      (null, 5L, "nk"), (3L, null, "nt")), "rid")
    // left: key 1 at t=10 (tie -> b), t=15 (-> b), t=25 (-> c); key 2 at
    // t=50 (no prior -> null); key 3 at t=10 (only null-ts right -> null);
    // null-key left row is kept, matches nothing; null-ts left row too
    val left = mkSide(Seq(
      (1L, 10L, "p1"), (1L, 15L, "p2"), (1L, 25L, "p3"),
      (2L, 50L, "p4"), (3L, 10L, "p5"),
      (null, 10L, "p6"), (1L, null, "p7")), "lid")

    val got = AsOfNative.join(left, right, Seq("k"), "ts", "ts", Seq("rid"))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    got shouldBe Map(
      "p1" -> Some("b"), "p2" -> Some("b"), "p3" -> Some("c"),
      "p4" -> None, "p5" -> None, "p6" -> None, "p7" -> None)

    val composed = Joins.asOf(left, right, Seq("k"), "ts", "ts", Seq("rid"))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    composed shouldBe got
  }

  test("hand data: tolerance nulls stale matches but keeps rows") {
    val right = mkSide(Seq((1L, 10L, "a")), "rid")
    val left = mkSide(Seq((1L, 15L, "p1"), (1L, 500L, "p2")), "lid")
    val got = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
        Seq("rid"), toleranceSec = Some(60L))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    got shouldBe Map("p1" -> Some("a"), "p2" -> None)
  }

  test("empty right side leaves every left row unmatched") {
    val right = mkSide(Seq((1L, 10L, "a")), "rid").filter(lit(false))
    val left = mkSide(Seq((1L, 15L, "p1")), "lid")
    val got = AsOfNative.join(left, right, Seq("k"), "ts", "ts", Seq("rid"))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    got shouldBe Map("p1" -> None)
  }

  test("multi-key join clusters on both keys") {
    val right = Seq((1L, "x", 10L, "a"), (1L, "y", 10L, "b"))
      .toDF("k1", "k2", "sec", "rid")
      .select(col("k1"), col("k2"),
        timestamp_seconds(col("sec")).as("ts"), col("rid"))
    val left = Seq((1L, "x", 20L, "p1"), (1L, "y", 20L, "p2"),
        (1L, "z", 20L, "p3"))
      .toDF("k1", "k2", "sec", "lid")
      .select(col("k1"), col("k2"),
        timestamp_seconds(col("sec")).as("ts"), col("lid"))
    val got = AsOfNative.join(left, right, Seq("k1", "k2"), "ts", "ts",
        Seq("rid"))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toMap
    got shouldBe Map("p1" -> Some("a"), "p2" -> Some("b"), "p3" -> None)
  }

  test("PruneAsOfPayload drops unreferenced payload from the node") {
    // only matched_ts is read downstream -> click_id must vanish from the
    // node and from the right-side subtree feeding the shuffle
    val q = AsOfNative.join(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_id"))
      .select("event_id", "matched_ts")
    val j = q.queryExecution.optimizedPlan
      .collect { case x: AsOfJoin => x }.head
    j.payload shouldBe empty
    j.right.output.map(_.name) should not contain "click_id"
    // and the result still equals the composed form's projection
    val composed = Joins.asOf(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("click_id")).select("event_id", "matched_ts")
    rows(q) shouldBe rows(composed)
  }

  test("payload stays when referenced; rule is a no-op") {
    val q = AsOfNative.join(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("click_id"))
      .select("event_id", "click_id")
    val j = q.queryExecution.optimizedPlan
      .collect { case x: AsOfJoin => x }.head
    j.payload.map(_.name) shouldBe Seq("click_id")
  }

  /** Two-column payload with rows TIED on (keys, ts): the tie resolves by
    * lexicographic payload order, so pruning is only sound when the
    * dropped columns are a suffix. Payload [a, b] with ties (a=1, b=9)
    * vs (a=2, b=5): the [a, b] sort ends on (2, 5). */
  private def tiedPayloadSides: (DataFrame, DataFrame) = {
    val right = Seq((1L, 10L, 1L, 9L), (1L, 10L, 2L, 5L))
      .toDF("k", "sec", "a", "b")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"),
        col("a"), col("b"))
    val left = Seq((1L, 15L, "p1")).toDF("k", "sec", "lid")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("lid"))
    (left, right)
  }

  test("prune fires on a kept PREFIX of a 2-col payload; result identical") {
    val (left, right) = tiedPayloadSides
    val q = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
        Seq("a", "b"))
      .select("lid", "a") // b unread -> dropped suffix, rule may fire
    val j = q.queryExecution.optimizedPlan
      .collect { case x: AsOfJoin => x }.head
    j.payload.map(_.name) shouldBe Seq("a")
    // tie winner under [a, b] order is (a=2, b=5); pruned to [a] the
    // kept-column sort is unchanged, so a must still be 2
    q.as[(String, Option[Long])].collect().toMap shouldBe
      Map("p1" -> Some(2L))
  }

  test("prune does NOT fire when a kept column follows a dropped one") {
    val (left, right) = tiedPayloadSides
    val q = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
        Seq("a", "b"))
      .select("lid", "b") // dropping a would change the tie-break sort
    val j = q.queryExecution.optimizedPlan
      .collect { case x: AsOfJoin => x }.head
    j.payload.map(_.name) shouldBe Seq("a", "b")
    // winner must stay the [a, b]-lexicographic max (a=2, b=5) -> b=5;
    // a pruned-to-[b] sort would have returned b=9
    q.as[(String, Option[Long])].collect().toMap shouldBe
      Map("p1" -> Some(5L))
  }

  test("rightTs listed in rightCols is rejected") {
    val (left, right) = tiedPayloadSides
    an[IllegalArgumentException] should be thrownBy
      AsOfNative.join(left, right, Seq("k"), "ts", "ts", Seq("ts", "a"))
  }

  test("live-session pruning narrows the parquet scan's ReadSchema") {
    // the prune rule runs in the operator-optimization fixed-point (build
    // time) and again end-of-optimizer (live-session path); V1
    // FileSourceStrategy computes ReadSchema at PHYSICAL planning, after
    // every optimizer batch, so the inserted Project must narrow the
    // scan: with payload [a, b] and only a read downstream, the
    // right-side parquet scan must not read b (or the unused c)
    val dir = java.nio.file.Files.createTempDirectory("asof_scan")
    try {
      val path = dir.resolve("right").toString
      Seq((1L, 10L, 1L, 9L, "junk")).toDF("k", "sec", "a", "b", "c")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"),
          col("a"), col("b"), col("c"))
        .write.mode("overwrite").parquet(path)
      val right = spark.read.parquet(path)
      val left = Seq((1L, 15L, "p1")).toDF("k", "sec", "lid")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("lid"))
      val q = AsOfNative.join(left, right, Seq("k"), "ts", "ts",
          Seq("a", "b"))
        .select("lid", "matched_ts", "a")
      q.count()
      val scans = flattenExec(q.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val rScan = scans.find(_.requiredSchema.fieldNames.contains("a"))
        .getOrElse(fail(s"no parquet scan reading column a in:\n" +
          q.queryExecution.executedPlan))
      rScan.requiredSchema.fieldNames.toSet shouldBe Set("k", "ts", "a")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("build-time GraftExtensions installs strategy + pruning rule") {
    val right = Seq((1L, 10L, "a")).toDF("k", "sec", "rid")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("rid"))
    val left = Seq((1L, 15L, "p1"), (2L, 9L, "p2")).toDF("k", "sec", "lid")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("lid"))
    val q = AsOfNative.join(left, right, Seq("k"), "ts", "ts", Seq("rid"))
      .select("lid", "matched_ts")
    val j = q.queryExecution.optimizedPlan
      .collect { case x: AsOfJoin => x }.head
    j.payload shouldBe empty
    // in the operator-optimization fixed-point the inserted Project is
    // itself pruned into the local relation: rid never materializes
    j.right.collectLeaves().foreach(
      _.output.map(_.name) should not contain "rid")
    q.collect().map(_.getString(0)).toSet shouldBe Set("p1", "p2")
  }

  test("live-session registration is idempotent across joins") {
    val l = mkSide(Seq((1L, 10L, "a")), "lid")
    val r = mkSide(Seq((1L, 5L, "b")), "rid")
    (1 to 2).foreach(_ =>
      AsOfNative.join(l, r, Seq("k"), "ts", "ts", Seq("rid")))
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    exp.extraStrategies.count(_ eq AsOfJoinStrategy) shouldBe 1
    exp.extraOptimizations.count(_ eq PruneAsOfPayload) shouldBe 1
  }

  test("self-join from one scan resolves unambiguously") {
    // purchases and clicks above already share a scan; this asserts the
    // fresh-alias dedup directly on a minimal frame
    val base = mkSide(Seq((1L, 10L, "a"), (1L, 20L, "b")), "id")
    val got = AsOfNative.join(
        base.withColumnRenamed("id", "lid"),
        base.select(col("k"), col("ts"), col("id").as("rid")),
        Seq("k"), "ts", "ts", Seq("rid"))
      .select("lid", "rid").as[(String, Option[String])]
      .collect().toSet
    got shouldBe Set("a" -> Some("a"), "b" -> Some("b"))
  }
}
