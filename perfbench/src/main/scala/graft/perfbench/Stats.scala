package graft.perfbench

/** Order statistics and the metric-name rule shared by every workload. */
object Stats {

  /** Median; NaN for an empty sample. */
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Percentile `p` in [0, 100] with linear interpolation between the two
    * nearest ranks (numpy's default); NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 100.0, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: letters, digits, `_`, `.` and `-`, starting with a
    * letter or digit, at most 64 characters. */
  def validName(name: String): Boolean = NamePattern.matches(name)
}
