package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned copy of the events fact — the second 100 TB layout
  * next to [[Bucketed]]'s co-bucketed join copies.
  *
  * Day-partitioning is how event facts land in every production lake:
  * one directory per ingest day, so a scan constrained to a day set
  * reads only those directories. STATIC pruning (literal predicates) is
  * spec-proven in ScaleMechanicsSpec; the registered
  * `join_partition_pruned` query proves the DYNAMIC form — the pruning
  * day set is computed at RUNTIME from a joined relation, and Catalyst
  * injects it into the fact scan as a dynamicpruning PartitionFilter
  * (reusing the join's broadcast exchange). At 100 TB that is the
  * difference between scanning 5 days and scanning 5 years when the
  * driving filter only materializes mid-query.
  *
  * Written once per (session, source dir) into the session warehouse,
  * same reset-then-CTAS dance as [[Bucketed]] (a stale on-disk location
  * from a previous JVM would fail the write).
  */
object Partitioned {

  /** Events with a `day` partition column (= to_date(ts)). */
  def eventsByDay(s: SparkSession, d: String): DataFrame =
    Memo.value(s, s"partitioned_events:$d") {
      val tab = s"graft_events_day${d.replaceAll("[^A-Za-z0-9]", "_")}"
      s.sql(s"DROP TABLE IF EXISTS $tab")
      val wh = s.sessionState.conf.warehousePath
      val p = new org.apache.hadoop.fs.Path(s"$wh/$tab")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Tables.events(s, d).withColumn("day", to_date(col("ts")))
        .write.format("parquet").partitionBy("day").saveAsTable(tab)
      s.table(tab)
    }
}
