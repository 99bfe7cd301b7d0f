/* Bridge into Spark's private[sql] surface. Spark 4 removed the public
 * Column(Expression) constructor; the supported internal path is
 * org.apache.spark.sql.classic.ExpressionUtils. Keeping this single file
 * inside the org.apache.spark.sql package confines the private-API use to
 * one place; everything else in graft stays on the public API. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

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
}
