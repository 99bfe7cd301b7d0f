package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile of a non-empty sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail figure may be reported at, highest first. */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest level in [[TailLevels]] that leaves at least `beyond`
    * samples above it: with n samples, p qualifies when
    * n * (1 - p/100) >= beyond. Small samples fall back to the median,
    * which is never a tail claim the sample cannot support. */
  def tailLevel(n: Int, beyond: Int = 10): Double =
    TailLevels.find(p => n * (1.0 - p / 100.0) >= beyond - 1e-9)
      .getOrElse(50.0)

  /** (level, value) of the tail figure for `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailLevel(xs.length)
    (p, quantile(xs, p / 100.0))
  }
}
