package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The reference's user-defined-operator surface is the App interface
  * (reference `Crane.go:179-188`): implement `transform` (per-tuple) and
  * `join` (keyed accumulate, merged across nodes by `mergeCache`). The
  * Spark-native analogue of the join/mergeCache pair is
  * `Aggregator[IN, BUF, OUT]` — `reduce` plays `join`, `merge` plays
  * `mergeCache` — registered through `functions.udaf`, which makes the
  * accumulator map-side partial like every built-in aggregate (only BUF
  * values cross the shuffle, the property the reference gets from running
  * `join` on each worker before the sink merge).
  */
object CraneAggregators {

  /** Weighted-mean accumulator: BUF carries (Σ w·x, Σ w). */
  final case class WSum(wx: Double, w: Double)

  object WeightedMean extends Aggregator[(Double, Double), WSum, Double] {
    override def zero: WSum = WSum(0.0, 0.0)
    override def reduce(b: WSum, in: (Double, Double)): WSum =
      WSum(b.wx + in._1 * in._2, b.w + in._2)
    override def merge(a: WSum, b: WSum): WSum =
      WSum(a.wx + b.wx, a.w + b.w)
    override def finish(b: WSum): Double =
      if (b.w == 0.0) Double.NaN else b.wx / b.w
    override def bufferEncoder: Encoder[WSum] = Encoders.product
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Misra-Gries heavy-hitters summary with k counters: after one pass,
    * every key whose true frequency exceeds n/(k+1) is guaranteed to be
    * among the surviving counters (the sketch may also retain lighter
    * keys — callers re-verify candidates with an exact recount, so the
    * final answer is exact while per-partition state stays O(k)).
    *
    * `reduce` is the classic streaming step (increment if present,
    * insert if room, else decrement all); `merge` is the mergeable-
    * summaries construction (Agarwal et al., PODS 2012): sum counters,
    * then subtract the (k+1)-th largest count and drop non-positives —
    * the error bound n/(k+1) is preserved under merging, which is what
    * makes the sketch a valid partial aggregate. */
  final case class MGBuf(counts: Map[Long, Long])

  final class FreqItemsMG(k: Int)
      extends Aggregator[Long, MGBuf, Seq[Long]] {
    require(k > 0, "k must be positive")
    override def zero: MGBuf = MGBuf(Map.empty)
    override def reduce(b: MGBuf, key: Long): MGBuf = {
      val m = b.counts
      m.get(key) match {
        case Some(c) => MGBuf(m.updated(key, c + 1))
        case None if m.size < k => MGBuf(m.updated(key, 1L))
        case None =>
          // decrement-all: drop zeros, charge the arriving key's single
          // occurrence against the same decrement
          MGBuf(m.flatMap { case (ky, c) =>
            if (c > 1) Some(ky -> (c - 1)) else None })
      }
    }
    override def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val summed = b.counts.foldLeft(a.counts) { case (m, (ky, c)) =>
        m.updated(ky, m.getOrElse(ky, 0L) + c)
      }
      if (summed.size <= k) MGBuf(summed)
      else {
        // (k+1)-th largest count is the subtraction that restores |m|<=k
        val cut = summed.values.toArray.sortInPlaceWith(_ > _).apply(k)
        MGBuf(summed.flatMap { case (ky, c) =>
          if (c - cut > 0) Some(ky -> (c - cut)) else None })
      }
    }
    override def finish(b: MGBuf): Seq[Long] = b.counts.keys.toSeq.sorted
    override def bufferEncoder: Encoder[MGBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
