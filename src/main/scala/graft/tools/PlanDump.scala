package graft.tools

import java.nio.file.{Files, Paths}
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{GraftSession, SparkEntry}

/** Batch `.explain("formatted")` dumper for the optimization-round plan
  * artifacts: for each named registered query — every registered query
  * when no names are given — write the formatted plan to
  * `<outDir>/<query>_<tag>.txt`.
  *
  * `runMain graft.tools.PlanDump <tag> <outDir> [q1,q2,...] [sfDir]`
  * (pass "" as the name list to dump every query from another sfDir)
  *
  * Plans are the AQE initial plans, not executed; the session's core
  * count changes only partition counts inside them. Dumps are
  * [[render]]ed, so a diff of two commits' dumps shows plan changes
  * only. */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** Masks what differs between two runs of one plan: expression and
    * plan ids, RDD ids, lambda class and object identity-hash suffixes,
    * the process and session nonces in store and table paths
    * (`graft_ann_store_p<pid>_<dir hash>`, `<table>_p<pid>_s<session>`)
    * and the checkout directory. */
  private def mask(s: String) = s
    .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
    .replaceAll("\\$\\$Lambda[$\\w]*(/0x\\p{XDigit}+)?", "\\$\\$Lambda")
    .replaceAll("(?<=[\\w$])@\\p{XDigit}+\\b", "@x")
    .replaceAll("_p\\d+_s\\p{XDigit}{32}", "_p<pid>_s<session>")
    .replaceAll("_p\\d+_(?=\\p{XDigit}{12})", "_p<pid>_")
    .replace(System.getProperty("user.dir"), "<checkout>")

  /** The formatted plan [[mask]]ed, with each
    * multi-distinct Expand in a canonical order: the optimizer orders
    * the distinct groups by a hash over expression ids, so the Expand's
    * columns and projections, the `gid` numbers and the key lists
    * downstream otherwise change with the ids a run allocated. */
  def render(df: DataFrame): String = mask(
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ExpandExec => e
    }.foldLeft(df.queryExecution.explainString(FormattedMode))(canonical))

  /** Distinct columns sorted by name, projections sorted, gids
    * renumbered in that order; `text` is kept when the Expand's
    * printed arguments are not found verbatim. */
  private def canonical(text: String, e: ExpandExec): String = {
    val g = e.output.indexWhere(_.name == "gid")
    def line(rows: Seq[Seq[Any]], out: Seq[Any]) = "Arguments: " +
      rows.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]") +
      out.mkString(", [", ", ", "]")
    val printed = line(e.projections, e.output)
    val d = (0 until g).filter(i => e.projections.map(_(i)).distinct.size > 1)
    if (d.isEmpty || !text.contains(printed)) return text
    val byName = d.sortBy(i => mask(e.output(i).toString))
    val perm = e.output.indices.map(i => byName.lift(d.indexOf(i)).getOrElse(i))
    val rows = e.projections.map(r => perm.map(r))
      .sortBy(r => mask(r.patch(g, Nil, 1).mkString(", ")))
    val gid = (rows.map(_(g).toString).filter(_ != "0").zipWithIndex
      .map { case (old, i) => old -> s"${i + 1}" } :+ ("0" -> "0")).toMap
    val gidTok = e.output(g).toString
    val dTok = byName.map(i => e.output(i).toString)
    // a list element naming a distinct column, bare or aliased
    val elem = dTok.map(Pattern.quote)
      .mkString("(?:[^,\\[\\]]*? AS )?(?:", "|", ")")
    val run = s"(?<=[\\[(]|, )$elem(?:, $elem)+(?![\\w#])".r
    val reordered = (Pattern.quote(gidTok + " = ") + "(\\d+)").r.replaceAllIn(
      text.replace(printed, line(
        rows.map(r => r.updated(g, gid(r(g).toString))), perm.map(e.output))),
      m => s"$gidTok = ${gid(m.group(1))}")
    run.replaceAllIn(reordered, m => Matcher.quoteReplacement(m.matched
      .split(", ").sortBy(t => dTok.indexOf(t.split(" AS ").last))
      .mkString(", ")))
  }

  def main(args: Array[String]): Unit = {
    val Array(tag, outDir) = args.take(2)
    val named = args.lift(2).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession()
    names.foreach { name =>
      try {
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
          render(SparkEntry.queries(name)(spark, dir)))
        System.err.println(s"[plandump] wrote $name ($tag)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
