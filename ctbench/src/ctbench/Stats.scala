package ctbench

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank quantile, q in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99.9/p99/p95/p90/p50 that leaves at least ten
    * samples above it, as (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(0.999, 0.99, 0.95, 0.9, 0.5).find(p => xs.size * (1 - p) >= 10 - 1e-9).getOrElse(0.5)
    (p * 100, quantile(xs, p))
  }
}
