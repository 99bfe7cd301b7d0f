package graft

import java.nio.file.Files

import scala.reflect.io.Directory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify dumps every query it can and reports the ones that threw, so
  * one broken query neither hides the others' results nor passes
  * silently. */
class VerifySpec extends SparkSpec {

  test("dumpAll reports a throwing query and still dumps the others") {
    val out = Files.createTempDirectory("verify_dump")
    try {
      val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "boom" -> ((_, _) => throw new IllegalStateException("boom")),
        "ok" -> ((s, _) => s.range(3).toDF()))
      Verify.dumpAll(spark, sfDir, out.toString, queries) shouldBe Seq("boom")
      spark.read.parquet(s"$out/ok").count() shouldBe 3
      Files.exists(out.resolve("boom")) shouldBe false
    } finally new Directory(out.toFile).deleteRecursively()
  }
}
