package graft.operators

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The iterative operators on degenerate inputs: an empty relation, a
  * single self-loop, a single edge, and a graph whose every edge is
  * listed twice (mmrTopK: no vectors, one vector, three vectors, every
  * vector twice, always with pool > candidates). Each case renders the
  * operator's rows (or the class of what it threw) and must equal the
  * recorded output, taken from the operators before their loops moved
  * onto `graft.core.Lineage`. No case threw there.
  *
  * Recorded behaviors worth knowing: bfsHops from a source outside the
  * graph returns the source alone at hop 0; personalized PageRank with
  * no seed inside the graph ranks every node 0; lpaFixed on one edge
  * oscillates (each end takes the other's label every round). */
class LoopDegenerateSpec extends SparkSpec {

  import spark.implicits._

  private val absent = 99L

  private lazy val edgeInputs: Map[String, DataFrame] = Map(
    "empty" -> Seq.empty[(Long, Long)].toDF("a", "b"),
    "self-loop" -> Seq((1L, 1L)).toDF("a", "b"),
    "one edge" -> Seq((1L, 2L)).toDF("a", "b"),
    "all doubled" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .flatMap(e => Seq(e, e)).toDF("a", "b"))

  private lazy val vectorInputs: Map[String, DataFrame] = Map(
    "empty" -> Seq.empty[(Long, Seq[Double])],
    "one vector" -> Seq((1L, Seq(1.0, 0.0))),
    "three vectors" -> Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.6, 0.8)),
      (3L, Seq(0.0, 1.0))),
    "all doubled" -> Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.0, 1.0)))
  ).map { case (k, v) => k -> v.toDF("vec_id", "embedding") }

  private def render(df: => DataFrame): String =
    Try(df.collect().map(_.toSeq.mkString("(", ",", ")")).mkString(" ")) match {
      case Success(rows) => rows
      case Failure(e) => s"throws ${e.getClass.getSimpleName}"
    }

  /** (operator, expected rows per input in the order empty, self-loop,
    * one edge, all doubled). */
  private val cases: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("pagerankInt", e => Graph.pagerankInt(e, "a", "b", iters = 3), Seq(
      "", "(1,1000000)", "(1,150000) (2,277500)",
      "(1,575000) (2,638750) (3,692937) (4,575000)")),
    ("pagerankInt dangling", e => Graph.pagerankInt(e, "a", "b",
      iters = 3, redistributeDangling = true), Seq(
      "", "(1,1000000)", "(1,678858) (2,1321140)",
      "(1,899825) (2,1034697) (3,1165649) (4,899825)")),
    ("personalizedPagerankInt absent seed", e =>
      Graph.personalizedPagerankInt(e, "a", "b", Seq(absent).toDF("seed"),
        iters = 3), Seq(
      "", "(1,0)", "(1,0) (2,0)", "(1,0) (2,0) (3,0) (4,0)")),
    ("hitsInt", e => Graph.hitsInt(e, "a", "b", iters = 3), Seq(
      "", "(1,1000000,1000000)", "(1,1000000,0) (2,0,1000000)",
      "(1,99999,400000) (2,99999,99999) (3,800001,99999) (4,0,400000)")),
    ("kcoreFixed", e => Graph.kcoreFixed(e, "a", "b", k = 2, rounds = 3),
      Seq("", "", "", "(1,2) (2,2) (3,2)")),
    ("lpaFixed", e => Graph.lpaFixed(e, "a", "b", rounds = 3), Seq(
      "", "", "(1,2) (2,1)", "(1,1) (2,1) (3,1) (4,1)")),
    ("bfsHops absent source", e => Graph.bfsHops(e, "a", "b", absent),
      Seq.fill(4)("(99,0)")),
    ("components", e => Dedup.components(e, "a", "b"), Seq(
      "", "(1,1)", "(1,1) (2,1)", "(1,1) (2,1) (3,1) (4,1)")),
    ("componentsTwoStar", e => Dedup.componentsTwoStar(e, "a", "b"), Seq(
      "", "(1,1)", "(1,1) (2,1)", "(1,1) (2,1) (3,1) (4,1)")),
  )

  for ((op, f, want) <- cases;
       (in, rows) <- Seq("empty", "self-loop", "one edge", "all doubled")
         .zip(want))
    test(s"$op on $in") {
      render(f(edgeInputs(in))) shouldBe rows
    }

  private val mmrWant = Seq(
    "empty" -> "",
    "one vector" -> "",
    "three vectors" ->
      ("(1,1,2,42000) (1,2,3,-24000) (2,1,3,56000) (2,2,1,42000) " +
        "(3,1,2,56000) (3,2,1,-18000)"),
    "all doubled" ->
      ("(1,1,2,70000) (1,2,3,0) (1,3,4,-30000) (2,1,1,70000) (2,2,3,0) " +
        "(2,3,4,-30000) (3,1,4,70000) (3,2,1,0) (3,3,2,-30000) " +
        "(4,1,3,70000) (4,2,1,0) (4,3,2,-30000)"))

  for ((in, rows) <- mmrWant)
    test(s"mmrTopK pool > candidates on $in") {
      val v = vectorInputs(in)
      render(Ann.mmrTopK(v, v, "vec_id", "embedding", k = 5, pool = 20)) shouldBe
        rows
    }
}
