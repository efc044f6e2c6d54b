package perfbench

/** Sample statistics for latency series. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" estimator numpy and R
    * default to); `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples of an `n`-sample series that lie strictly beyond the
    * `pct`-th percentile's rank. */
  def beyond(n: Int, pct: Double): Int =
    n - math.ceil(n * pct / 100.0 - 1e-9).toInt

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it — a p99 read off 50 samples is the maximum, not a tail.
    * None when even the median has fewer than `minBeyond` behind it. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailPercentiles.find(p => beyond(n, p) >= minBeyond)

  /** (percentile, value) of the tail of `xs`, per [[tailPercentile]]. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    tailPercentile(xs.size, minBeyond).map(p => p -> quantile(xs, p / 100))
}
