package graft.kgbench

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  private val tailLevels = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest of p99.9/p99/p95/p90/p75/p50 that has at least ten samples
    * above it, with its label. Below 20 samples no level qualifies and the
    * median is returned, labelled as such.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    tailLevels.find(p => xs.size * (1 - p / 100) >= 10) match {
      case Some(p) => (s"p${if (p == p.floor) p.toInt.toString else p.toString}", quantile(xs, p / 100))
      case None => ("p50 (fewer than 20 samples)", median(xs))
    }
}
