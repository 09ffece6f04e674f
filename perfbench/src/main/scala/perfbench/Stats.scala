package perfbench

/** Order statistics over one run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p % of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Candidate tail percentiles, lowest first. The median is not one: a
    * tail that falls back to it would only repeat `op_p50_s`. */
  val TailLadder: Seq[Double] = Seq(75, 90, 95, 99, 99.9)

  /** Samples that must lie beyond a percentile before it is reported. */
  val MinBeyond = 10

  final case class Tail(percentile: Double, value: Double, beyond: Int)

  /** Fewest samples that give a tail: p75 has [[MinBeyond]] beyond it. */
  val MinSamples: Int = 4 * MinBeyond

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even p75 has fewer (n < [[MinSamples]]). */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    TailLadder.reverse.collectFirst {
      case p if n > 0 && n - rank(n, p) >= MinBeyond =>
        Tail(p, percentile(xs, p), n - rank(n, p))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
