package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every operator in the library reads through here so that scan-level
  * concerns (format, pushdown-friendly layout) live in one place. At 100 TB
  * these would be catalog tables partitioned on the natural keys; in this
  * harness they are single parquet files per table, and we rely on Catalyst
  * to push filters/projections into the parquet scan.
  */
object Tables {

  /** The one parquet read path: `spark.read.parquet(path)` with the schema
    * Spark would infer, resolved from one footer on the driver
    * ([[shims.parquetSchema]]) instead of by Spark's schema-inference job.
    * The footer is read at each call, so nothing can go stale. A path
    * with no parquet file to read falls through to Spark's own read and
    * its error (the missing path, or `UNABLE_TO_INFER_SCHEMA`). */
  def read(spark: SparkSession, path: String): DataFrame =
    shims.parquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped in three parquet flavors across testdata
    * regenerations: INT64 TIMESTAMP(NANOS) (read as LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true, which Verify/Bench/tests
    * set), INT64 micros with isAdjustedToUTC=false (read as TIMESTAMP_NTZ),
    * and plain UTC micros (TimestampType). The loader normalizes all three
    * to TimestampType so every downstream query/operator sees one type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integer DIV, not `/`: Long `/` coerces to Double and the
        // round-trip rounds-to-nearest, corrupting ~1.5% of timestamps by
        // 1 us (and flipping whole seconds for ns just under a boundary);
        // DuckDB truncates ns->us, so truncation is also what the oracle does
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // sessions pin spark.sql.session.timeZone=UTC, so NTZ -> TZ is a
        // value-preserving reinterpretation of the same micros
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The single name -> loader registry (semantics-aware: `events` goes
    * through its nanos conversion). Anything that enumerates tables —
    * Views.register, tests — derives from this, so a new table cannot be
    * added to one list and missed in another. */
  val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  val names: Seq[String] = loaders.map(_._1)
}
