package perfbench

/** Order statistics of timing samples. */
object Stats {

  /** Percentiles the tail metric may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a reported percentile must leave beyond it. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank of the `p` percentile of `n` samples (the
    * epsilon keeps p * n / 100 from rounding up past an exact rank). */
  private def rank(n: Int, p: Double): Int =
    math.min(math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1), n)

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest candidate percentile that leaves at least [[MinBeyond]]
    * samples beyond it; None when even the median does not. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= MinBeyond)

  /** The tail metrics of `xs`: the tail percentile and its value; the
    * maximum when no percentile leaves enough samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Double) =
    tailPercentile(xs.size).map(p => (p, percentile(xs, p))).getOrElse((100.0, xs.max))

  /** Length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
