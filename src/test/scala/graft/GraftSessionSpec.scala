package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic

import graft.plans.{AsOfJoinStrategy, PruneAsOfPayload}

/** graft configures Spark in one place: the factory's session carries the
  * engine settings, and no other source file builds a session. */
class GraftSessionSpec extends SparkSpec {

  test("factory session: UTC, nanosAsLong, partitions = cores, extensions") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    spark.sparkContext.master shouldBe "local[4]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.planner.extraPlanningStrategies should contain(AsOfJoinStrategy)
    state.optimizer.extendedOperatorOptimizationRules should contain(
      PruneAsOfPayload)
  }

  test("only GraftSession.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val builders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(_.getFileName.toString)
    }
    builders shouldBe Seq("GraftSession.scala")
  }
}
