package graft

import org.apache.spark.sql.SparkSession

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
      // build-time injection puts PruneAsOfPayload in the operator-
      // optimization fixed-point (the inserted Project is itself pruned
      // into the scan) instead of the end-of-batch experimental slot.
      // withExtensions, not config("spark.sql.extensions", ...): the
      // config form is read off the SparkContext conf, which cannot pick
      // up new static confs once a context exists in the JVM.
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
