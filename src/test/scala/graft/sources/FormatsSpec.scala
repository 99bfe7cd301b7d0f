package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Tables

/** Format breadth the reference never had (SURVEY.md §2.9: raw text
  * only): CSV and JSON round-trip a typed slice losslessly through
  * spark.read/write — doubles survive via shortest-round-trip encoding,
  * timestamps via the UTC session zone. */
class FormatsSpec extends SparkSpec {

  test("csv and json round-trip a lineitem slice losslessly") {
    val out = Files.createTempDirectory("fmt").toString
    val src = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate")
      .limit(500).cache()
    try {
      src.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
      src.write.mode("overwrite").json(s"$out/json")
      val csv = spark.read.option("header", "true").schema(src.schema)
        .csv(s"$out/csv")
      val json = spark.read.schema(src.schema).json(s"$out/json")
      for (back <- Seq(csv, json)) {
        back.count() shouldBe src.count()
        back.exceptAll(src).count() shouldBe 0L
        src.exceptAll(back).count() shouldBe 0L
      }
    } finally src.unpersist()
  }
}
