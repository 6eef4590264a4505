package perfbench

/** Order statistics shared by the end-to-end report and the tests. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: the `pct` percentile (nearest rank) of `n` samples,
    * with `beyond` samples strictly above its rank. */
  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  /** The percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** Nearest-rank index (0-based) of percentile `pct` among `n` samples. */
  def rankIndex(pct: Double, n: Int): Int =
    math.max(0, math.ceil(pct / 100.0 * n - 1e-9).toInt - 1)

  /** The highest ladder percentile that leaves at least [[MinBeyond]]
    * samples above it; None when even the median does not. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val s = xs.sorted
    val n = s.length
    TailLadder.iterator.map { p =>
      val i = rankIndex(p, n)
      (p, i, n - 1 - i)
    }.collectFirst {
      case (p, i, beyond) if n > 0 && beyond >= MinBeyond =>
        Tail(p, s(i), n, beyond)
    }
  }

  /** Total length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val s = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
