package graft.perfbench

import scala.collection.mutable

/** What a workload hands back: counts, every metric it measured and,
  * in a traced run, its spans. Notes for a human (percentile levels,
  * sample counts, bases of ratios) go to stdout as `# ` lines. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** Checks that are not per-operation (e.g. a generator that fell
    * behind its schedule makes the run invalid). */
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var spans: Seq[Span] = Nil

  def fail(what: String): Unit = { failed += 1; problems += what }
  def correct: Boolean = failed == 0 && problems.isEmpty

  /** Exit status: any failure or invalid run is non-zero, after every
    * metric has been printed. */
  def exitCode: Int = if (correct) 0 else 1

  def note(s: String): Unit = println(s"# $s")

  def toJson: String = {
    val ms = metrics.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
