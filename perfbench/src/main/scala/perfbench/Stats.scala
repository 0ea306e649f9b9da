package perfbench

/** Order statistics the benchmark reports. A percentile is only
  * reported when at least [[MinBeyond]] samples lie beyond it, so a
  * tail figure is never read off one or two outliers.
  */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest of `candidates` (percent) with at least
    * [[MinBeyond]] samples beyond it, with its value; None when even
    * the lowest candidate has too few samples beyond it.
    */
  def tail(xs: Seq[Double],
      candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50))
      : Option[(Double, Double)] =
    candidates.sorted(Ordering[Double].reverse)
      .find(p => xs.nonEmpty && beyond(xs.length, p) >= MinBeyond)
      .map(p => (p, percentile(xs, p)))
}
