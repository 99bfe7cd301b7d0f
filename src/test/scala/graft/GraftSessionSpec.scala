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
    spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") shouldBe
      "65536"
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

  test("src/main shares through Memo.value alone") {
    // one memo keyed by session UUID, one memo boundary that drops the
    // root sort: no identity-hash keys, sort flags or side-channel maps
    val banned = Seq("System.identityHashCode", "totalOrder", "Memo.once",
      "TrieMap")
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        banned.filter(src.contains).map(b => s"${p.getFileName}: $b")
      }.toSeq
    hits shouldBe empty
  }

  test("src/main reads parquet through graft.core.Tables alone") {
    // spark.read.parquet infers the schema with a Spark job per read;
    // Tables.read resolves it from one footer on the driver
    val chain = """(\s*\.\s*(option|options|schema)\s*\([^)]*\))*"""
    val reads = (raw"""\bread$chain\s*\.\s*parquet\s*\(|""" +
      raw"""format\s*\(\s*"parquet"\s*\)$chain\s*\.\s*load\s*\(""").r
    val readers = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => reads.findFirstIn(Files.readString(p)).isDefined)
      .map(p => Paths.get("src/main/scala").relativize(p).toString)
      .toSeq
    readers shouldBe Seq("graft/core/Tables.scala")
  }

  test("src/main cuts lineage through graft.core.Lineage alone") {
    // one module decides eager vs lazy and owns the storage call, so
    // swapping localCheckpoint for a reliable checkpoint is one edit
    val cutters = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("localCheckpoint"))
      .map(p => Paths.get("src/main/scala").relativize(p).toString)
      .toSeq
    cutters shouldBe Seq("graft/core/Lineage.scala")
  }
}
