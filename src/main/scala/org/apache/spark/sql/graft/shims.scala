/* Bridge into Spark's private[sql] surface. Spark 4 removed the public
 * Column(Expression) constructor; the supported internal path is
 * org.apache.spark.sql.classic.ExpressionUtils. Parquet footer-to-schema
 * conversion is internal too. Keeping this single file inside the
 * org.apache.spark.sql package confines the private-API use to one place;
 * everything else in graft stays on the public API. */
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Lift a custom LogicalPlan into a DataFrame (Dataset.ofRows is
    * private[sql]); the plan goes through full analysis/optimization. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed plan + its output attributes for an existing DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Idempotently register a planner strategy on a LIVE session — the path
    * for sessions we did not build (the driver's). Sessions built by us
    * can use `spark.sql.extensions=graft.plans.GraftExtensions` instead. */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.exists(_ eq s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Idempotently register an optimizer rule on a LIVE session. Runs in
    * the end-of-optimizer user batch — late enough that the plan is in
    * its pruned shape, too late to re-trigger scan-level column pruning
    * (build-time GraftExtensions injection gets that too). */
  def addOptimization(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.exists(_ eq r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }

  /** The schema Spark's parquet source infers for `path`, read on the
    * driver.
    *
    * Spark's non-merging inference touches one file: `_common_metadata`,
    * else `_metadata`, else the first data file in path order. It reads
    * that footer through `parallelize(...).collect()`, a job per read.
    * This picks the same file from Spark's own listing (its hidden-file
    * filter; no job below 32 paths) and converts its footer with Spark's
    * own footer-to-schema conversion under the session's conf. `None`
    * when the path lists no parquet file: a missing path, or a directory
    * without data files. */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val files = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty,
      None).allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .map { f =>
        val metadata = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, session.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, metadata),
          new ParquetToSparkSchemaConverter(session.sessionState.conf))
      }
  }
}
