package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("tail percentile leaves at least ten samples beyond it") {
    assert(Stats.tailLevel(19) == 50.0)
    assert(Stats.tailLevel(40) == 75.0)
    assert(Stats.tailLevel(100) == 90.0)
    assert(Stats.tailLevel(199) == 90.0)
    assert(Stats.tailLevel(200) == 95.0)
    assert(Stats.tailLevel(1000) == 99.0)
    assert(Stats.tailLevel(10000) == 99.9)
    val xs = (1 to 100).map(_.toDouble)
    val (level, v) = Stats.tail(xs)
    assert(level == 90.0)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(xs.count(_ > v) >= 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("span self time subtracts the union of its children") {
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100),
      Span(2, 1, "job", "a", 10, 30),
      Span(3, 1, "job", "b", 20, 50),
      // clipped to the parent's interval
      Span(4, 1, "job", "c", 80, 120),
      Span(5, 2, "stage", "s", 12, 18))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 40 - 20)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(5) == 6)
    assert(Spans.covered(Nil, 0, 10) == 0)
    assert(Spans.selfByKind(spans)("job") == 14 + 30 + 40)
  }

  test("the generator is deterministic per seed") {
    val a = new LineGen(7).take(5000)
    assert(a.sameElements(new LineGen(7).take(5000)))
    assert(!a.sameElements(new LineGen(8).take(5000)))
    val blank = a.count(_.trim.isEmpty)
    assert(blank > 150 && blank < 350)
    // word lengths follow rank, so text volume does not depend on seed
    assert(LineGen.vocabulary(1, 20000).map(_.length).sum ==
      LineGen.vocabulary(2, 20000).map(_.length).sum)
    assert(LineGen.vocabulary(1, 20000).distinct.length == 20000)
  }

  test("the exact top-5 reference counts words as the topology splits them") {
    assert(LineGen.words("  a  bb\tc ") == Seq("a", "bb", "c"))
    assert(LineGen.words("   ").isEmpty)
    assert(LineGen.words("").isEmpty)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    Seq("b a a", "c b", "", "d e f a", "e b c")
      .flatMap(LineGen.words).foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1)
    // ties broken by word, ascending
    assert(LineGen.topK(counts, 5) ==
      Seq("a" -> 3L, "b" -> 3L, "c" -> 2L, "e" -> 2L, "d" -> 1L))
  }

  test("digests ignore row order and summation noise, not values") {
    val rows = Seq(Row(1L, "x", 0.1 + 0.2), Row(2L, null, -0.0),
      Row(3L, "z", Seq(1, 2)), Row(4L, "m", Map("b" -> 2, "a" -> 1)))
    val same = Seq(Row(4L, "m", Map("a" -> 1, "b" -> 2)), Row(3L, "z", Seq(1, 2)),
      Row(2L, null, 0.0), Row(1L, "x", 0.3))
    assert(Digest.of(rows) == Digest.of(same))
    assert(Digest.of(rows) != Digest.of(rows.updated(0, Row(1L, "x", 0.31))))
    assert(Digest.of(rows) != Digest.of(rows.updated(2, Row(3L, "z", Seq(2, 1)))))
    assert(Digest.of(rows) != Digest.of(rows :+ rows.head))
    assert(Digest.canonical(new java.math.BigDecimal("1.500")) == "1.5")
    assert(Digest.canonical(null) != Digest.canonical("null"))
  }

  test("a planted wrong digest fails the run") {
    def run(name: String, digest: String) =
      Registry.Run(name, 1, 0, 1, 2, None, digest, 0)
    val runs = Seq(run("q1", "3:aa"), run("q2", "1:bb"))
    assert(Registry.mismatches(runs, Map("q1" -> "3:aa", "q2" -> "1:bb")).isEmpty)
    val planted = Registry.mismatches(runs, Map("q1" -> "3:aa", "q2" -> "1:bc"))
    assert(planted.size == 1 && planted.head.startsWith("q2"))
    // a query with no recorded digest is a mismatch as well
    assert(Registry.mismatches(runs, Map("q1" -> "3:aa")).size == 1)
    val out = new Outcome
    out.attempted = runs.size
    planted.foreach(out.fail)
    out.metrics("batch_total_s") = 1.0
    assert(!out.correct && out.exitCode != 0 && out.failed == 1)
    assert(out.toJson.contains("\"batch_total_s\":1.0"))
  }
}
