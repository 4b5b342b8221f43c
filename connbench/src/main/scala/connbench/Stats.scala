package connbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(math.ceil(p / 100.0 * s.length).toInt, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The tail latency: the highest percentile with at least `beyond`
    * samples ranked above it, i.e. the (beyond+1)-th largest sample, or the
    * median when there are fewer than `2 * beyond` samples. Returns
    * (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val n = xs.size
    if (n >= 2 * beyond) (100.0 * (n - beyond) / n, xs.sorted.apply(n - beyond - 1))
    else (50.0, median(xs))
  }
}
