package killabench

/** Summary statistics with the bench's reporting rules. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(0, rank(p, s.length) - 1))
  }

  /** 1-based nearest rank of percentile p among n samples (the epsilon
    * keeps 99.9% of 10000 at 9990 despite binary floating point).
    */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least `minBeyond` samples above
    * it — a tail is only reported where enough samples lie beyond it to
    * make it more than one outlier. None when even the median lacks them.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10, maxP: Double = 100.0): Option[Double] =
    TailLadder.find(p => p <= maxP && n - rank(p, n) >= minBeyond)

  /** A timing summary: median and the tail percentile the sample count
    * supports (`tailP` says which; when no percentile qualifies, the max).
    */
  final case class Summary(n: Int, median: Double, tailP: Double, tail: Double)

  /** Summaries of consecutive time windows of `windowNs` over (time ns,
    * value) samples; windows with fewer than `minN` samples are dropped.
    * A run reports the median over its windows, so a burst of outside load
    * that spoils a minority of the windows does not move the result.
    */
  def windows(xs: Seq[(Long, Double)], windowNs: Long, maxP: Double,
      minN: Int = 20): Seq[Summary] =
    xs.groupBy(_._1 / windowNs).toSeq.sortBy(_._1).map(_._2.map(_._2))
      .filter(_.length >= minN).map(summarize(_, maxP))

  def summarize(xs: Seq[Double], maxP: Double = 100.0): Summary = {
    require(xs.nonEmpty, "summary of no samples")
    tailPercentile(xs.length, maxP = maxP) match {
      case Some(p) => Summary(xs.length, median(xs), p, percentile(xs, p))
      case None => Summary(xs.length, median(xs), 100.0, xs.max)
    }
  }
}

/** Open-loop accounting: requests are due on a fixed schedule whatever the
  * system's state; latency runs from the due time, so a stall is charged to
  * every request queued behind it, and the generator's own lateness (due →
  * actually handed to a client) is reported so an overloaded generator is
  * visible rather than silently turning the loop closed.
  */
object OpenLoop {
  /** Due time (ns from the loop's start) of request `i` at `ratePerS`. */
  def dueNs(i: Long, ratePerS: Double): Long = (i * 1e9 / ratePerS).toLong

  final case class Sample(dueNs: Long, sentNs: Long, doneNs: Long, ok: Boolean)

  /** Latency from the due time, ms. A failed request counts as exceeding
    * any latency limit: its latency is +Infinity.
    */
  def latencyMs(s: Sample): Double =
    if (s.ok) (s.doneNs - s.dueNs) / 1e6 else Double.PositiveInfinity

  /** How late the generator handed the request to a client, ms (≥ 0). */
  def lateMs(s: Sample): Double = math.max(0L, s.sentNs - s.dueNs) / 1e6
}
