package perfbench

/** Order statistics over one run's samples. */
object Stats {

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail latency: the highest percentile that leaves at least 10 samples
    * beyond it (never below the median), with that percentile and the
    * sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val p = math.max(0.5, 1.0 - 10.0 / xs.size)
    Tail(quantile(xs, p), p, xs.size)
  }
}
