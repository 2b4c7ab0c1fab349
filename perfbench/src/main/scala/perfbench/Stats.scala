package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by the union of `(from, to)` intervals. */
  def covered(spans: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** The value at the highest percentile that still has at least `beyond`
    * samples above it, with that percentile; the maximum (percentile 100)
    * when there are too few samples for one. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val i = s.length - beyond - 1
    if (i < 0) (s.last, 100.0) else (s(i), 100.0 * (i + 1) / s.length)
  }
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** Operations attempted and failed in the measured window, and why. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  def ok(): Unit = attempted += 1
  def fail(why: String): Unit = {
    attempted += 1; failed += 1
    reasons(why) = reasons.getOrElse(why, 0L) + 1
  }
  /** Turn `n` already-counted successes into failures. */
  def demote(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    reasons(why) = reasons.getOrElse(why, 0L) + n
  }
}
