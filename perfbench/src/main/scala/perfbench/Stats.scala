package perfbench

/** Order statistics used by the end-to-end metrics. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency and the nearest-rank percentile it sits at. */
  final case class Tail(value: Double, pct: Double, samples: Int, beyond: Int)

  /** The highest nearest-rank percentile that still has at least `beyond`
    * samples above its rank, so the figure never rests on a handful of
    * outliers. With 100 samples and `beyond = 10` that is p90; with 1000 it
    * is p99. With fewer than `2 * beyond + 1` samples that rank would sit
    * at or below the median, so the figure falls back to the median
    * (reported as p50 with the count of samples above it). */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > 2 * beyond) {
      val idx = n - 1 - beyond
      Tail(s(idx), 100.0 * (idx + 1) / n, n, beyond)
    } else {
      val idx = (n - 1) / 2
      Tail(median(s), 50.0, n, n - 1 - idx)
    }
  }
}
