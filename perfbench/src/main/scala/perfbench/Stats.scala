package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile of an ascending-sorted sample: the value at
    * 1-based rank ceil(p/100 * n). */
  def nearestRank(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.max(1, math.ceil(p / 100.0 * sorted.length - 1e-9).toInt)
    sorted(math.min(rank, sorted.length) - 1)
  }

  def median(xs: Seq[Double]): Double = nearestRank(xs.sorted.toIndexedSeq, 50)

  /** The highest whole percentile, at most `cap`, whose nearest-rank value
    * still has at least `beyond` samples above its rank. None when the
    * sample is too small to support any percentile at or above the median.
    */
  def tailPercentile(n: Int, cap: Int = 95, beyond: Int = 10): Option[Int] =
    (cap to 50 by -1).find { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      n - rank >= beyond
    }

  /** (median, tail percentile used, value at that percentile). With too few
    * samples for the tail rule the tail falls back to the maximum and the
    * percentile is reported as 100. */
  def summary(xs: Seq[Double]): (Double, Int, Double) = {
    val s = xs.sorted.toIndexedSeq
    tailPercentile(s.length) match {
      case Some(p) => (nearestRank(s, 50), p, nearestRank(s, p))
      case None    => (nearestRank(s, 50), 100, s.last)
    }
  }
}
