package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  /** 1-based nearest rank of the `p` percentile among `n` samples; exact
    * in decimal, so 99.9 % of 10,000 is rank 9,990.
    */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, (BigDecimal(p) * n / 100).setScale(0,
      BigDecimal.RoundingMode.CEILING).toInt))

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 90.0, 75.0)

  /** The highest percentile that still has at least ten samples beyond
    * it, or None when there are too few samples for any candidate.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => samplesBeyond(n, p) >= 10)

  /** Samples strictly above the nearest-rank `p` percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Median plus the tail percentile chosen by [[tailPercentile]]. */
  case class Summary(n: Int, median: Double, tailPct: Option[Double],
      tail: Option[Double])

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.length)
    Summary(xs.length, median(xs), tp, tp.map(percentile(xs, _)))
  }
}
