package graft.operators

import graft.SparkSpec

/** Audit.keySkew against a brute-force in-memory computation, including
  * a deliberately skewed key. */
class AuditSpec extends SparkSpec {

  import spark.implicits._

  test("keySkew matches brute force on a skewed hand corpus") {
    // key 1: 60 rows (the hot key), keys 2..11: 4 rows each -> 100 rows
    val rows = Seq.fill(60)(1L) ++ (2L to 11L).flatMap(k => Seq.fill(4)(k))
    val df = rows.toDF("k").repartition(5)
    val got = Audit.keySkew(df, Seq("k")).head
    val counts = rows.groupBy(identity).map(_._2.size.toLong).toSeq.sorted
    def pctl(p: Double) = counts(math.ceil(counts.size * p).toInt - 1)
    got.getAs[Long]("n_keys") shouldBe 11L
    got.getAs[Long]("n_rows") shouldBe 100L
    got.getAs[Long]("max_cnt") shouldBe 60L
    got.getAs[Long]("p50_cnt") shouldBe pctl(0.5)
    got.getAs[Long]("p90_cnt") shouldBe pctl(0.9)
    got.getAs[Long]("p99_cnt") shouldBe pctl(0.99)
    got.getAs[Long]("max_share_bp") shouldBe 6000L // 60/100 in bp
  }

  test("keySkew on a uniform key reports no skew signal") {
    val df = (1L to 50L).flatMap(k => Seq.fill(3)(k)).toDF("k")
    val got = Audit.keySkew(df, Seq("k")).head
    got.getAs[Long]("p50_cnt") shouldBe 3L
    got.getAs[Long]("p99_cnt") shouldBe 3L
    got.getAs[Long]("max_cnt") shouldBe 3L
    got.getAs[Long]("max_share_bp") shouldBe 200L // 3/150
  }

  test("keySkew over events matches an independent percentile derivation") {
    val ev = graft.core.Tables.events(spark, sfDir)
    val got = Audit.keySkew(ev, Seq("user_id")).head
    val counts = ev.groupBy("user_id").count()
      .collect().map(_.getLong(1)).sorted
    def pctl(p: Double) = counts(math.ceil(counts.length * p).toInt - 1)
    got.getAs[Long]("n_keys") shouldBe counts.length.toLong
    got.getAs[Long]("n_rows") shouldBe counts.sum
    got.getAs[Long]("p90_cnt") shouldBe pctl(0.9)
    got.getAs[Long]("p99_cnt") shouldBe pctl(0.99)
  }
}
