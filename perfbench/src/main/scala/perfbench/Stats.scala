package perfbench

/** Order statistics for the result line. Percentiles are nearest-rank
  * and given in per-mille so that rank arithmetic stays integral
  * (0.9 * 100 is not exactly 90 in floating point). */
object Stats {

  /** Value at 1-based rank ceil(pm / 1000 * n) of the sorted sample. */
  def percentile(xs: Seq[Double], pm: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(pm > 0 && pm <= 1000, s"per-mille out of range: $pm")
    val s = xs.sorted
    s(rank(s.length, pm) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Mean over groups of each group's median: every kind of call weighs
    * the same, whichever kind a run's middle sample happens to be. */
  def meanOfMedians(groups: Seq[Seq[Double]]): Double = {
    require(groups.nonEmpty, "mean of medians of no groups")
    groups.map(median).sum / groups.size
  }

  private def rank(n: Int, pm: Int): Int =
    math.max(1, ((pm.toLong * n + 999) / 1000).toInt)

  /** Samples strictly above the nearest-rank `pm` percentile. */
  def beyond(n: Int, pm: Int): Int = n - rank(n, pm)

  /** The percentiles a tail may be read at. */
  val TailCandidates: Seq[Int] = Seq(500, 750, 900, 950, 990, 999)

  /** The tail rule: the highest candidate percentile with at least ten
    * samples beyond it; None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Int] =
    TailCandidates.filter(pm => beyond(n, pm) >= 10).lastOption
}
