package perfbench

/** Latency summaries. A percentile is only trustworthy when enough samples
  * lie beyond it: with fewer than [[MinTail]] samples above the rank, one
  * slow request moves it, so it is reported as withheld.
  */
object Stats {

  val MinTail = 10

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, with the number of
    * samples ranked above it.
    */
  final case class Pct(p: Double, value: Double, n: Int, beyond: Int) {
    def reliable: Boolean = beyond >= MinTail
  }

  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    if (xs.isEmpty) None
    else {
      val sorted = xs.sorted
      val rank = math.max(1, math.ceil(p / 100.0 * sorted.size).toInt)
      Some(Pct(p, sorted(rank - 1), sorted.size, sorted.size - rank))
    }
  }

  /** The percentile when at least [[MinTail]] samples lie beyond it. */
  def reliablePercentile(xs: Seq[Double], p: Double): Option[Pct] =
    percentile(xs, p).filter(_.reliable)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
