package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFs

/** The one place graft configures Spark: every main (Verify, Bench, the
  * scale ladders, the stream benchmarks, the fixture generators, the plan
  * dumper) and the shared test session get their session here, so they
  * all plan with the same rules and settings. */
object GraftSession {

  /** Local threads, and shuffle partitions, when the caller passes no
    * count: `SPARK_GRAFT_CPUS`, or 4 when it is unset. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS); see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate falls back to SORT-BASED aggregation past this
      // many distinct groups per partition (Spark default: 128). The
      // k-bounded TopKAgg tails group by query id — thousands of tiny
      // k-bounded buffers — and at 128 the fallback SORTED the whole
      // 160M-row pair stream (measured: 8-14 GB spill, >90% of the deep
      // rung chain-serve wall time). 65536 keeps k-bounded aggs on the
      // hash path while wide-group object aggs (collect_list over a
      // corpus-wide key) still fall back to the spill-protected sort.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        65536)
      // build-time injection puts PruneAsOfPayload in the operator-
      // optimization fixed-point (the inserted Project is itself pruned
      // into the scan) instead of the end-of-batch experimental slot.
      // withExtensions, not config("spark.sql.extensions", ...): the
      // config form is read off the SparkContext conf, which cannot pick
      // up new static confs once a context exists in the JVM.
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      // every Hadoop filesystem call on file: goes through LocalFs, which
      // forks no chmod/readlink process where libhadoop is missing
      .config(LocalFs.routing.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
