package graft.core

import java.util.{Collections, WeakHashMap}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Where graft cuts lineage; no operator or query picks eager or lazy
  * for itself. [[cut]] (lazy) is for a relation several consumers read
  * (a self-join, a fan-out into aggregates, a memo entry): they read
  * persisted blocks instead of re-running the upstream plan, and later
  * plans see a `LogicalRDD` leaf. [[rounds]] is a fixed-round fold cut
  * lazily, [[untilStable]] a convergence loop cut eagerly, and [[pin]]
  * an eager cut for streaming relations only.
  *
  * Lazy by default: a lazy cut runs no job of its own. Under AQE,
  * building its RDD already runs the plan's shuffle stages; the last
  * stage runs in the first consumer's job, whose tasks persist the
  * blocks (a second reader waits for a block being written, it does
  * not recompute it). An eager cut adds a blocking count job, which on
  * the small relations the loops mostly see costs more than the work
  * (r15: fixed-round PageRank as one job instead of 3 setup jobs plus
  * one per round). A convergence loop runs an action every round
  * anyway, so its round is materialized in one job before the
  * emptiness check, rather than piecemeal by the check's limit scan
  * plus the job Spark runs at checkpoint time for skipped partitions.
  *
  * 100 TB note: `localCheckpoint` blocks live on the executor that
  * computed them, with no lineage left to rebuild them, so a lost
  * executor fails the jobs reading them. Fault-tolerant delivery swaps
  * [[checkpoint]]'s one call for `df.checkpoint(eager)` (a reliable
  * checkpoint directory); no call site changes. */
object Lineage extends AdaptiveSparkPlanHelper {

  // Each cut's upstream SQL metrics, held while its RDD lives: the
  // checkpoint drops their last reference while a concurrent task may
  // still compute a block through the lineage and report to them.
  private val upstreamMetrics =
    Collections.synchronizedMap(new WeakHashMap[AnyRef, Seq[AnyRef]]())

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val out = df.localCheckpoint(eager)
    upstreamMetrics.put(out.queryExecution.logical.asInstanceOf[LogicalRDD].rdd,
      collectWithSubqueries(df.queryExecution.executedPlan)(_.metrics.values)
        .flatten)
    out
  }

  def cut(df: DataFrame): DataFrame = checkpoint(df, eager = false)

  /** Eager: the trigger (or topology build) that creates a streaming
    * relation leaves it materialized, rather than deferring the work
    * into whichever later trigger first reads it. */
  def pin(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  /** Fold `step` over `n` rounds (round index 1..n), cutting each
    * round's output lazily; `init` is taken as given. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame)
      : DataFrame =
    (1 to n).foldLeft(init)((df, i) => cut(step(df, i)))

  /** Apply `step` until `changed(previous, next)` is empty, cutting each
    * round eagerly before the check. Returns the stable relation, or
    * `None` when `maxRounds` rounds all changed something (callers
    * decide whether that is a fallback or an error). */
  @annotation.tailrec
  def untilStable(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)
                 (changed: (DataFrame, DataFrame) => DataFrame)
      : Option[DataFrame] =
    if (maxRounds == 0) None
    else {
      val next = checkpoint(step(init), eager = true)
      if (changed(init, next).isEmpty) Some(next)
      else untilStable(next, maxRounds - 1)(step)(changed)
    }
}
