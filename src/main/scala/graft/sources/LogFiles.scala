package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directory-of-log-files source with full grep provenance — the
  * reference's distributed grep reports every match as `vmN.log:<line>:
  * <text>` and per-VM match counts (reference `server/querier.go:28-49`,
  * `client/client.go:83-89`). `lines` reproduces that provenance exactly:
  * one row per line, tagged with the file's base name and its 1-based
  * line number.
  *
  * Files are read wholetext and split with posexplode, so line numbers
  * are exact regardless of scan partitioning — a line-split reader loses
  * intra-file positions once a file spans input splits. The unit of
  * parallelism is therefore the FILE (a fleet of bounded per-VM logs, the
  * reference's deployment shape), and one file must fit in one task's
  * memory; unbounded single files belong to the streaming spout
  * (graft.streaming.CraneStream.fileLines).
  */
object LogFiles {

  /** All lines of every `glob`-matching file under `dir`:
    * (file, line_no, line). The default glob keeps the scan pinned to
    * log files — a stray non-log file (editor backup, README) must not
    * silently join the corpus. The glob goes to `pathGlobFilter`, not
    * into the path: Spark's FileStreamSink.hasMetadata probe stats a
    * glob path literally, fails, and logs a WARN stack trace per read.
    *
    * A newline-TERMINATED file (the normal POSIX shape) splits into a
    * phantom empty final element; it is dropped so line accounting matches
    * grep/wc — only a trailing empty element goes, so a file ending in a
    * genuine blank line ("...\n\n") still reports it, and a wholly empty
    * file yields zero lines. */
  def lines(spark: SparkSession, dir: String,
            glob: String = "*.log"): DataFrame =
    spark.read.option("wholetext", "true").option("pathGlobFilter", glob)
      .text(dir)
      .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"),
        split(col("value"), "\n").as("ls"))
      .select(col("file"), size(col("ls")).as("n"), posexplode(col("ls")))
      .filter(!(col("pos") === col("n") - 1 && col("col") === ""))
      .select(col("file"), (col("pos") + 1).cast("long").as("line_no"),
        col("col").as("line"))

  /** T4 with provenance: regex matches as (file, line_no, line). */
  def grep(spark: SparkSession, dir: String, pattern: String): DataFrame =
    lines(spark, dir).filter(col("line").rlike(pattern))

  /** A3: per-file match counts (the reference's per-VM counts). */
  def grepCounts(spark: SparkSession, dir: String, pattern: String): DataFrame =
    grep(spark, dir, pattern)
      .groupBy("file")
      .agg(count(lit(1)).as("cnt"))
}
