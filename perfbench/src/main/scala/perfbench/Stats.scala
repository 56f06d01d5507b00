package perfbench

/** Latency statistics that repeat from run to run.
  *
  * Op kinds of one workload sit in separate latency modes (a 100-row
  * ETL job and a 10 000-row one; a scan-only query and a cube), so a
  * pooled median lands in the gap between modes and jumps with the
  * op mix. Every "p50" here is therefore the geometric mean over kinds
  * of each kind's own median. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The p-quantile, interpolated linearly between order statistics. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = h.toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of no values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Geometric mean over kinds of each kind's median. */
  def geomeanOfMedians(byKind: Map[String, Seq[Double]]): Double =
    geomean(byKind.values.filter(_.nonEmpty).map(median).toSeq)

  /** The highest percentile that still has at least `beyond` samples
    * above it, with the percentile and sample count it rests on. With
    * too few samples for that, the median stands in (percentile 0.5). */
  final case class Tail(value: Double, pct: Double, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    val p = if (n > beyond) (n - beyond).toDouble / n else 0.5
    Tail(quantile(xs, p), p, n)
  }
}
