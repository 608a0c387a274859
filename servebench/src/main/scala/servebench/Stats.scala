package servebench

/** Latency summaries. Percentiles are nearest-rank over the samples. */
object Stats {
  /** Percentile ladder a tail is read from. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9)

  /** The tail rule: the highest ladder percentile with at least ten
    * samples beyond it (n * (1 - p/100) >= 10); the median when even
    * that has fewer. */
  def tailPercentile(n: Int): Double =
    Ladder.filter(p => n * (100.0 - p) >= 1000.0 - 1e-9).lastOption.getOrElse(50.0)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)
}
