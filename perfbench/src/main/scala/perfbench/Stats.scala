package perfbench

/** Order statistics over latency samples.
  *
  * A failed operation is recorded as `Double.PositiveInfinity`: it
  * sorts after every real latency, so it can only push a percentile
  * up, never make a run look faster. */
object Stats {

  val Failed: Double = Double.PositiveInfinity

  /** Nearest-rank percentile (`p` in (0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Conventional median: the mean of the two middle samples when the
    * count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail is reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least `beyond` samples
    * above it out of `n`, or None when even the median has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailCandidates.find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)

  /** Fraction of attempts that failed; 0 when nothing was attempted. */
  def failedFrac(samples: Seq[Double]): Double =
    if (samples.isEmpty) 0.0
    else samples.count(_.isInfinity).toDouble / samples.size

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
