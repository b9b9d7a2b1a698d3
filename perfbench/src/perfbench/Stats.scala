package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** A percentile read off a sample: its value, which percentile it is, and
    * how many samples it was taken from. */
  final case class Pct(value: Double, pct: Double, n: Int)

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def p50(xs: Seq[Double]): Pct = Pct(median(xs), 50.0, xs.length)

  /** The tail: the highest percentile with at least `beyond` samples above
    * it, but never below the median. Sorted ascending, that is the value at
    * 0-based rank `max(n - beyond - 1, n / 2)`, which sits at percentile
    * `100 * (rank + 1) / n`. With fewer than `2 * beyond + 1` samples the
    * rule alone would read under the median, so the upper median is taken
    * and its percentile, 50 to 60, shows the shortfall. */
  def tail(xs: Seq[Double], beyond: Int = 10): Pct = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    val rank = math.max(n - beyond - 1, n / 2)
    Pct(s(rank), 100.0 * (rank + 1) / n, n)
  }
}
