package graft.core

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.sys.process._

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.VersionedStore

/** Testdata-flavor guard (VERDICT r5 item 2).
  *
  * The driver has regenerated events.parquet with different parquet
  * timestamp encodings across rounds — INT64 TIMESTAMP(NANOS) (read as
  * LongType under spark.sql.legacy.parquet.nanosAsLong=true), INT64 micros
  * with isAdjustedToUTC=false (read as TIMESTAMP_NTZ), and UTC micros
  * (TimestampType). Round 5 broke 5 queries and 3 suites because the
  * loader silently assumed one flavor. This spec writes the same instants
  * in all three flavors and asserts Tables.events always yields a
  * TimestampType `ts` with identical values — it fails if the loader
  * normalization is ever removed.
  *
  * It also pins the one parquet read path, `Tables.read`: on every table
  * shape graft reads, the schema it resolves from one footer equals the
  * one `spark.read.parquet` infers, and resolving it submits no Spark job.
  */
class TablesSpec extends SparkSpec {

  // instants chosen to exercise the nanos-truncation edge: the second one
  // has nanos just under a microsecond boundary (truncate, don't round)
  private val microsUtc = Seq(
    1704067200000000L,          // 2024-01-01 00:00:00
    1704067201123456L,          // 00:00:01.123456
    1704153599999999L)          // 2024-01-01 23:59:59.999999

  private def writeFlavor(flavor: String): String = {
    val dir = Files.createTempDirectory(s"tables_$flavor").toString
    val s = spark
    import s.implicits._
    val ids = microsUtc.indices.map(_.toLong)
    val df = flavor match {
      case "nanos_long" =>
        // what the vectorized reader yields for INT64 TIMESTAMP(NANOS)
        // under nanosAsLong=true: a plain Long column of nanos (+999 ns
        // below the next micro — must truncate away, not round up)
        ids.zip(microsUtc.map(_ * 1000L + 999L)).toDF("event_id", "ts")
      case "micros_ntz" =>
        val rows = ids.zip(microsUtc).map { case (i, us) =>
          Row(i, LocalDateTime.ofEpochSecond(
            us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1),
          StructType(Seq(StructField("event_id", LongType),
            StructField("ts", TimestampNTZType))))
      case "micros_utc" =>
        ids.zip(microsUtc).toDF("event_id", "us")
          .select($"event_id", timestamp_micros($"us").as("ts"))
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events normalizes all three parquet flavors to TimestampType") {
    // compare via unix_micros, not java.sql.Timestamp equality, so the
    // check is exact at microsecond resolution
    val perFlavor = Seq("nanos_long", "micros_ntz", "micros_utc").map { f =>
      val dir = writeFlavor(f)
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        s"flavor $f: ts resolved to ${df.schema("ts").dataType}")
      val got = df.orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      f -> got
    }
    perFlavor.foreach { case (f, got) =>
      assert(got == microsUtc, s"flavor $f: micros $got != $microsUtc")
    }
  }

  test("the real testdata events table resolves ts to TimestampType") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    // and it is actually usable by the round-5 casualties' key expression
    df.select(unix_micros(col("ts"))).limit(1).collect()
  }

  private def readsAsSpark(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val (schema, jobs) = jobsDuring(Tables.read(spark, path).schema)
    withClue(path) {
      schema shouldBe inferred
      jobs shouldBe 0
    }
  }

  test("Tables.load resolves every sfDir table as Spark does, with no job") {
    Tables.names.foreach(n => readsAsSpark(s"$sfDir/$n.parquet"))
    val (_, jobs) = jobsDuring(Tables.loaders.foreach { case (_, load) =>
      load(spark, sfDir).schema })
    jobs shouldBe 0
  }

  test("Tables.read resolves all three events flavors as Spark does") {
    Seq("nanos_long", "micros_ntz", "micros_utc").foreach { f =>
      val dir = writeFlavor(f)
      readsAsSpark(s"$dir/events.parquet")
      jobsDuring(Tables.events(spark, dir).schema)._2 shouldBe 0
    }
  }

  test("Tables.read: a multi-part dir and a zero-row table, Spark-written") {
    val dir = Files.createTempDirectory("tables_read").toString
    spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id % 7 as int) AS k",
      "concat('s', id) AS s", "array(cast(id as float)) AS v")
      .write.parquet(s"$dir/parts")
    Files.list(Paths.get(s"$dir/parts")).toArray
      .count(_.toString.endsWith(".parquet")) should be > 1
    readsAsSpark(s"$dir/parts")
    Tables.read(spark, s"$dir/parts").count() shouldBe 1000L
    spark.range(0).selectExpr("id", "concat('s', id) AS s")
      .write.parquet(s"$dir/empty")
    readsAsSpark(s"$dir/empty")
    Tables.read(spark, s"$dir/empty").count() shouldBe 0L
  }

  test("Tables.read: DuckDB-written tables and symlinks (tools/edge_dirs.py)") {
    assume(Seq("python3", "-c", "import duckdb").! == 0,
      "python3 with duckdb is not installed")
    Seq("dup", "empty", "one-row").foreach { kind =>
      val out = Files.createTempDirectory(s"edge_$kind").toString
      Seq("python3", "tools/edge_dirs.py", "--kind", kind, sfDir, out,
        "embeddings,region").!! // throws on a non-zero exit
      Files.isSymbolicLink(Paths.get(s"$out/orders.parquet")) shouldBe true
      Tables.names.foreach(n => readsAsSpark(s"$out/$n.parquet"))
    }
  }

  test("VersionedStore reads a committed version as Spark does, with no job") {
    import spark.implicits._
    val root = Files.createTempDirectory("tables_vs").toString
    val store = VersionedStore(root)
    store.putVersion("t", 3, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    store.putVersion("t", 4, Seq((3L, "c")).toDF("id", "s"))
    val version = Paths.get(s"$root/t/version=3")
    Seq("_SUCCESS", VersionedStore.CommitMarker)
      .foreach(f => Files.exists(version.resolve(f)) shouldBe true)
    readsAsSpark(version.toString)
    val (_, jobs) = jobsDuring {
      store.getVersion(spark, "t", 3).schema
      store.get(spark, "t").schema
      store.getVersions(spark, "t", 2).schema
    }
    jobs shouldBe 0
    store.getVersions(spark, "t", 2).count() shouldBe 3L
  }

  test("Tables.read keeps Spark's errors for a missing path and a dir without data") {
    val dir = Files.createTempDirectory("tables_err").toString
    val missing = s"$dir/nope.parquet"
    intercept[Exception](Tables.read(spark, missing)).getMessage should
      include(missing)
    val noData = Files.createDirectory(Paths.get(s"$dir/no_data"))
    Files.createFile(noData.resolve("_SUCCESS"))
    intercept[AnalysisException](Tables.read(spark, noData.toString))
      .getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
  }
}
