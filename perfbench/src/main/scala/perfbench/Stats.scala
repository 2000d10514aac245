package perfbench

/** Latency summaries and interval arithmetic shared by the metrics. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p % of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size, math.max(1, rank(s.size, p))) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Samples that lie strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, rank(n, p))

  /** The percentiles a tail may be reported at. */
  val Reportable: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest reportable percentile with at least `minBeyond` samples
    * beyond it, or None when not even the median has that many. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Reportable.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, ivs: Iterable[(Long, Long)]): Long = {
    val clipped = ivs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Overlapping children count once; any part of a child
    * outside the span counts not at all. */
  def selfTime(lo: Long, hi: Long, children: Iterable[(Long, Long)]): Long =
    (hi - lo) - covered(lo, hi, children)
}
