package graft.perfbench

/** Order statistics for per-op timings. */
object Stats {

  /** Nearest-rank percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail a sample of `n` ops supports: the highest whole percentile
    * with at least `minBeyond` samples strictly above its nearest rank.
    * Returns (percentile, value, samples beyond it). A sample too small to
    * leave `minBeyond` ops beyond the median reports the median itself
    * with however many ops lie above it, so the metric always exists. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Int, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.length
    def beyond(p: Int): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)
    (99 to 50 by -1).find(beyond(_) >= minBeyond) match {
      case Some(p) => (p, percentile(xs, p), beyond(p))
      case None => (50, median(xs), beyond(50))
    }
  }

  /** Total length of the union of half-open intervals, each clipped to
    * [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
