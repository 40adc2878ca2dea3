package perfbench

/** Order statistics for the benchmark's metrics. */
object Stats {

  /** The median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a `q`-percentile needs so that at least `beyond` samples lie
    * above it: the top (1 − q) share of n must hold `beyond` of them. */
  def samplesNeeded(q: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1 - q) - 1e-9).toInt

  /** The `q`-percentile (nearest rank), or None when fewer than `beyond`
    * samples lie above it — a tail read off a handful of samples is noise,
    * so it is not reported at all. */
  def percentile(xs: Seq[Double], q: Double, beyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"percentile must be in (0, 1): $q")
    if (xs.length < samplesNeeded(q, beyond)) None
    else {
      val s = xs.sorted
      val rank = math.ceil(q * s.length).toInt.max(1)
      Some(s(rank - 1))
    }
  }
}
