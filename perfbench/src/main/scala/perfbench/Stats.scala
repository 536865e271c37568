package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Nearest-rank percentile `p` (0–100) of `xs`; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  private val TailCandidates = Seq(99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None with fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailCandidates.find(q => xs.size - math.ceil(q / 100 * xs.size) >= 10)
      .map(q => (q, pct(xs, q)))

  /** Least-squares slope of y on x; 0 when x does not vary. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0
    else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
