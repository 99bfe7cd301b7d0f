package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.TextOps

/** Golden-output tests on the reference's own in-repo datasets — the
  * reference's correctness methodology was cross-engine comparison on
  * exactly these inputs (cs425_mp4.pdf §4). Expected values computed
  * independently (whitespace-fields semantics, count desc / key asc
  * total order). */
class GoldenSpec extends SparkSpec {

  private val dataDir = "/root/reference/spark-streaming/data"

  private def lines(path: String): DataFrame = spark.read.text(path)

  private def top5(app: String, lines: DataFrame): Seq[(String, Long)] =
    TextOps.topK(CraneStream.counts(app, lines), 5, "count",
      CraneStream.apps(app)._1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  test("wordCount top-5 on the Shakespeare sample matches the oracle") {
    assume(Files.exists(Paths.get(s"$dataDir/shakespear")))
    top5("wordCount", lines(s"$dataDir/shakespear")) shouldBe Seq(
      "the" -> 341L, "of" -> 321L, "to" -> 277L, "my" -> 267L, "I" -> 261L)
  }

  test("twitter top-5 followees on the edge sample matches the oracle") {
    assume(Files.exists(Paths.get(s"$dataDir/twitter")))
    top5("twitter", lines(s"$dataDir/twitter")) shouldBe Seq(
      "22462180" -> 47L, "40981798" -> 46L, "34428380" -> 44L,
      "31331740" -> 38L, "19493072" -> 35L)
  }

  test("hothttp top-5 resources on the Calgary log matches the oracle") {
    assume(Files.exists(Paths.get(s"$dataDir/calgary")))
    top5("hothttp", lines(s"$dataDir/calgary")) shouldBe Seq(
      "index.html" -> 3067L, "3.gif" -> 976L, "2.gif" -> 972L,
      "4.gif" -> 969L, "5.html" -> 208L)
  }
}
