package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `q` quantile by nearest rank: the smallest sample with at least
    * `q` of the samples at or below it.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Number of samples strictly above the `q` quantile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  /** The highest percentile, at most `maxQ`, that leaves at least
    * `minBeyond` samples beyond it (a tail figure resting on fewer
    * samples is noise). With too few samples for any tail it falls back
    * to the median. Returns (quantile used, value).
    */
  def tail(xs: Seq[Double], maxQ: Double = 0.9, minBeyond: Int = 10): (Double, Double) = {
    val n = xs.size
    val q =
      if (beyond(n, maxQ) >= minBeyond) maxQ
      else math.max(0.5, math.floor(100.0 * (n - minBeyond) / n) / 100.0)
    (q, if (q == 0.5) median(xs) else quantile(xs, q))
  }
}
