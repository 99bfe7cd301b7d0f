package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-group top-k by (score DESC, id ASC), k-bounded, as a native
  * Catalyst `TypedImperativeAggregate` — graft's one bounded top-k
  * aggregate. The scale-right alternative to `row_number().over(
  * Window...)` + filter: the window form SORTS every row of every group
  * (full shuffle + sort of the fact table), while this buffer crosses
  * the shuffle with at most k rows per (group, map partition) — the same
  * partial/merge shape as min/max, with k-bounded state. Integer scores
  * keep every engine's comparison exact.
  *
  * It reads the two child expressions straight off the InternalRow and
  * keeps the buffer as two primitive long arrays, so per-row work is a
  * couple of boxed evals and an insertion-sort step against the cutoff.
  * A typed udaf(Aggregator) with the same selection paid an
  * ExpressionEncoder round trip per input row (InternalRow → boxed
  * (Long, Long) tuple → buffer case-class re-wrap): measured 15-30 µs
  * CPU per row on the deep rung's ~160M-pair chain-serve scan, ~100×
  * this form's per-row overhead.
  *
  * A row whose score or id is null is skipped. Output is
  * array<struct<_1 score, _2 id>> sorted best-first; TopKAggSpec pins
  * it against a `row_number()` window reference.
  */
object TopKAgg {

  /** Mutable k-bounded buffer: parallel arrays sorted by
    * (score DESC, id ASC); `n` entries valid. */
  final class Buf(val k: Int) {
    var n: Int = 0
    val scores: Array[Long] = new Array[Long](k)
    val ids: Array[Long] = new Array[Long](k)

    /** True iff (s, i) ranks strictly better than (s2, i2). */
    @inline private def beats(s: Long, i: Long, s2: Long,
                              i2: Long): Boolean =
      s > s2 || (s == s2 && i < i2)

    def insert(s: Long, i: Long): Unit = {
      if (n == k && !beats(s, i, scores(n - 1), ids(n - 1))) return
      // find insertion point (linear from the tail — k is small)
      var p = if (n < k) n else n - 1
      while (p > 0 && beats(s, i, scores(p - 1), ids(p - 1))) p -= 1
      if (n < k) n += 1
      var j = n - 1
      while (j > p) {
        scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1
      }
      scores(p) = s
      ids(p) = i
    }

    def mergeFrom(o: Buf): Unit = {
      var j = 0
      while (j < o.n) { insert(o.scores(j), o.ids(j)); j += 1 }
    }
  }

  case class TopKLongs(
      scoreExpr: Expression, idExpr: Expression, k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Buf] with BinaryLike[Expression] {

    require(k > 0, "k must be positive")

    override def left: Expression = scoreExpr
    override def right: Expression = idExpr

    override def createAggregationBuffer(): Buf = new Buf(k)

    override def update(b: Buf, input: InternalRow): Buf = {
      val s = scoreExpr.eval(input)
      val i = idExpr.eval(input)
      if (s != null && i != null)
        b.insert(s.asInstanceOf[Long], i.asInstanceOf[Long])
      b
    }

    override def merge(b: Buf, o: Buf): Buf = { b.mergeFrom(o); b }

    override def eval(b: Buf): Any = {
      val out = new Array[Any](b.n)
      var j = 0
      while (j < b.n) {
        out(j) = new GenericInternalRow(
          Array[Any](b.scores(j), b.ids(j)))
        j += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(b: Buf): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + 16 * b.n)
      bb.putInt(b.k).putInt(b.n)
      var j = 0
      while (j < b.n) {
        bb.putLong(b.scores(j)); bb.putLong(b.ids(j)); j += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Buf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = new Buf(bb.getInt())
      val n = bb.getInt()
      var j = 0
      while (j < n) {
        buf.scores(j) = bb.getLong(); buf.ids(j) = bb.getLong(); j += 1
      }
      buf.n = n
      buf
    }

    // field names _1/_2 keep the udaf's Seq[(Long, Long)] encoding, so
    // posexplode consumers and oracles see the identical schema
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("_1", LongType, nullable = false),
        StructField("_2", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false

    override def withNewMutableAggBufferOffset(o: Int): TopKLongs =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKLongs =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): TopKLongs =
      copy(scoreExpr = l, idExpr = r)
    override def prettyName: String = "topk_longs"
  }

  import org.apache.spark.sql.graft.shims.{column, expression}

  /** groupBy-agg column: top-`k` (score, id) pairs per group by
    * (score DESC, id ASC), as array<struct<_1 score, _2 id>>
    * best-first. Both inputs must be bigint. */
  def topk_longs(score: Column, id: Column, k: Int): Column =
    column(TopKLongs(expression(score), expression(id), k)
      .toAggregateExpression())
}
