package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.operators.TextOps

/** Property tests for the reference semantics (SURVEY.md §5 test plan):
  * running-count merge associativity (models Crane's mergeCache), top-K
  * permutation invariance (the total order fixes the reference's
  * nondeterministic ties), and duplicate-scaling linearity (exactly-once:
  * k copies of the input scale counts by exactly k, unlike the
  * reference's possible replay double-counts). */
class StreamPropsSpec extends SparkSpec {

  private val lineGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.listOfN(5,
      Gen.oneOf("a", "b", "c", "dd", "ee")).map(_.mkString(" ")))

  private def counts(lines: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    CraneStream.counts("wordCount", lines.toDF("value")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("count-merge associativity: count(a ++ b) == merge(count(a), count(b))") {
    check(Prop.forAll(lineGen, lineGen) { (a, b) =>
      val merged = (counts(a).toSeq ++ counts(b).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      counts(a ++ b) == merged
    })
  }

  test("topK invariant under input permutation") {
    check(Prop.forAll(lineGen, Gen.long) { (lines, seed) =>
      import spark.implicits._
      val shuffled = new scala.util.Random(seed).shuffle(lines)
      def top(ls: Seq[String]) =
        TextOps.topK(CraneStream.counts("wordCount", ls.toDF("value")), 3,
            "count", "word")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      top(lines) == top(shuffled)
    })
  }

  test("duplicate scaling: k copies of input scale every count by k") {
    check(Prop.forAll(lineGen, Gen.choose(2, 4)) { (lines, k) =>
      val base = counts(lines)
      val scaled = counts(Seq.fill(k)(lines).flatten)
      scaled == base.view.mapValues(_ * k).toMap
    })
  }
}
