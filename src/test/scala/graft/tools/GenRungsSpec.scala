package graft.tools

import java.nio.file.{Files, LinkOption, Path, Paths}

import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** GenRungs writes each rung kind as one plan over the copy index. This
  * spec keeps the n-way `union` formulas the scale ladders used before as
  * reference implementations and pins the generated tables to them row
  * for row, then checks the rung dir layout the oracle and Bench rely on:
  * the scaled table a regular single file, every other table a symlink
  * into the source dir. */
class GenRungsSpec extends SparkSpec {

  /** Write `rung` under a fresh temp root, run `body` on its dir, then
    * delete the root (the rung's symlinks go, their targets stay). */
  private def withRung(rung: GenRungs.Rung)(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("graft_rungs")
    try body(GenRungs.write(spark, root.toString, rung))
    finally new scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  /** Reference: the union of copies the document ladder wrote before. */
  private def refDocs(n: Int): DataFrame = (0 until n).map { i =>
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    if (i == 0) base
    else base.select(
      (col("doc_id") + i * 100000000L).as("doc_id"),
      array_join(
        transform(split(col("text"), "\\s+"), t => concat(t, lit(s"_$i"))),
        " ").as("text"))
  }.reduce(_ unionByName _)

  /** Reference: the union of disjoint-user event copies. */
  private def refEvents(n: Int): DataFrame = (0 until n).map { i =>
    val base = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type")
    if (i == 0) base
    else base.select(
      (col("event_id") + i * 1000000000L).as("event_id"),
      (col("user_id") + i * 1000000000L).as("user_id"),
      col("ts"), col("event_type"))
  }.reduce(_ unionByName _)

  /** Reference: the union of order-key-shifted fact copies. */
  private def refFacts(table: String, key: String, n: Int): DataFrame =
    (0 until n).map { i =>
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      if (i == 0) base
      else base.withColumn(key, col(key) + i * 1000000000L)
    }.reduce(_ unionByName _)

  /** Layout: `scaled` are regular files, every other table a symlink to
    * the same table in `sfDir`. */
  private def checkLayout(dir: Path, scaled: Set[String]): Unit =
    Tables.names.foreach { t =>
      val p = dir.resolve(s"$t.parquet")
      if (scaled(t)) {
        withClue(s"$t: ") {
          Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS) shouldBe true
        }
      } else {
        withClue(s"$t: ") {
          Files.isSymbolicLink(p) shouldBe true
          Files.readSymbolicLink(p) shouldBe Paths.get(s"$sfDir/$t.parquet")
        }
      }
    }

  private def unique(df: DataFrame, key: String): Unit =
    df.select(key).distinct().count() shouldBe df.count()

  test("documents x3: the union formula, unique ids, copy 0 verbatim") {
    withRung(GenRungs.docsRung("docs3x", sfDir, 3)) { dir =>
      checkLayout(dir, Set("documents"))
      val got = Tables.documents(spark, dir.toString)
      val src = Tables.documents(spark, sfDir)
      got.columns.toSeq shouldBe src.columns.toSeq
      sameRows(got.select("doc_id", "text"), refDocs(3))
      unique(got, "doc_id")
      sameRows(got.filter(col("doc_id") < 100000000L), src)
      got.filter(col("n_chars") =!= functions.length(col("text"))).count() shouldBe 0L
    }
  }

  test("events x2: the union formula, unique ids, copy 0 verbatim") {
    withRung(GenRungs.eventsRung("events2x", sfDir, 2)) { dir =>
      checkLayout(dir, Set("events"))
      val got = Tables.events(spark, dir.toString)
      val src = Tables.events(spark, sfDir)
      got.columns.toSeq shouldBe src.columns.toSeq
      sameRows(got.select("event_id", "user_id", "ts", "event_type"),
        refEvents(2))
      unique(got, "event_id")
      sameRows(got.filter(col("event_id") < 1000000000L), src)
    }
  }

  test("facts x2: orders and lineitem shifted, dimensions linked") {
    withRung(GenRungs.factsRung("facts2x", sfDir, 2)) { dir =>
      checkLayout(dir, Set("orders", "lineitem"))
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
      sameRows(orders, refFacts("orders", "o_orderkey", 2))
      sameRows(lineitem, refFacts("lineitem", "l_orderkey", 2))
      unique(orders, "o_orderkey")
      sameRows(orders.filter(col("o_orderkey") < 1000000000L),
        spark.read.parquet(s"$sfDir/orders.parquet"))
      sameRows(lineitem.filter(col("l_orderkey") < 1000000000L),
        spark.read.parquet(s"$sfDir/lineitem.parquet"))
    }
  }

  test("emb500 regenerates the committed rung row for row") {
    withRung(GenRungs.rungs.find(_.name == "emb500").get) { dir =>
      checkLayout(dir, Set("embeddings"))
      sameRows(spark.read.parquet(s"$dir/embeddings.parquet"),
        spark.read.parquet("data/emb_sf/emb500/embeddings.parquet"))
    }
  }
}
