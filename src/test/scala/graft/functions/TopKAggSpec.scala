package graft.functions

import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TopKAgg.topk_longs

/** [[TopKAgg.topk_longs]] against the per-group `row_number()` window it
  * replaces: the top k rows of each group by (score DESC, id ASC), rows
  * with a null score or id skipped. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  /** (g, rank, score, id) rows of both forms, ordered. */
  private def both(rows: DataFrame, k: Int)
      : (Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    def collect(df: DataFrame) = df.as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val got = rows.groupBy("g").agg(topk_longs(col("s"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long"), col("col._1"), col("col._2"))
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)
    val want = rows.filter(col("s").isNotNull && col("id").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("g", "rank", "s", "id")
    (collect(got), collect(want))
  }

  private val ties = Seq((1L, 30L, 9L), (1L, 30L, 7L), (1L, 50L, 3L),
    (1L, 10L, 1L), (1L, 40L, 2L), (1L, 30L, 8L), (2L, 5L, 4L))
    .toDF("g", "s", "id")

  test("ties on score go to the smaller id") {
    val (got, want) = both(ties, 3)
    got shouldBe want
    got shouldBe Seq((1L, 1L, 50L, 3L), (1L, 2L, 40L, 2L), (1L, 3L, 30L, 7L),
      (2L, 1L, 5L, 4L))
  }

  test("k above the group size keeps the whole group; k = 1 keeps its best row") {
    val (all, allWant) = both(ties, 10)
    all shouldBe allWant
    all.count(_._1 == 1L) shouldBe 6
    val (one, oneWant) = both(ties, 1)
    one shouldBe oneWant
    one shouldBe Seq((1L, 1L, 50L, 3L), (2L, 1L, 5L, 4L))
  }

  test("a row with a null score or id is skipped") {
    val rows = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(9L), None), (1L, None, Some(1L)), (1L, Some(4L), Some(6L)),
      (1L, Some(4L), Some(5L)), (2L, None, None))
      .toDF("g", "s", "id")
    val (got, want) = both(rows, 2)
    got shouldBe want
    got shouldBe Seq((1L, 1L, 4L, 5L), (1L, 2L, 4L, 6L))
    // the all-null group is present, with an empty list
    rows.groupBy("g").agg(topk_longs(col("s"), col("id"), 2).as("top"))
      .filter(col("g") === 2L).select(functions.size(col("top"))).as[Int].collect() shouldBe
      Array(0)
  }

  test("input over several partitions: partial buffers serialize and merge") {
    val rng = new scala.util.Random(7)
    // scores from a narrow range, so ties cross partition boundaries
    val rows = Seq.tabulate(2000)(i => (i % 5L, rng.nextInt(40).toLong, i.toLong))
      .toDF("g", "s", "id").repartition(8)
    rows.select(col("g"), spark_partition_id().as("p")).distinct()
      .groupBy("g").count().as[(Long, Long)].collect().foreach { case (_, parts) =>
        parts should be > 1L
      }
    for (k <- Seq(1, 7, 64)) {
      val (got, want) = both(rows, k)
      got shouldBe want
      got.size shouldBe 5 * k
    }
  }
}
