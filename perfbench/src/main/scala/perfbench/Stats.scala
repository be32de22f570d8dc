package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Samples that must lie beyond the reported tail value. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail at the highest percentile that still has `TailBeyond`
    * samples beyond it: the (TailBeyond+1)-th largest sample.
    * Returns (value, percentile, sample count). With too few samples for
    * any tail, the maximum is returned at percentile 100. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= TailBeyond) Tail(s.last, 100.0, n)
    else Tail(s(n - 1 - TailBeyond), 100.0 * (n - TailBeyond) / n, n)
  }

  /** Open-loop latency: from the time an item was due to be sent to the
    * time its result returned. Using the due time (not the actual send)
    * charges a stalled generator's lateness to the system under test. */
  def openLoopLatency(dueNs: Long, doneNs: Long): Double =
    (doneNs - dueNs) / 1e9

  /** How late a generator acted relative to its schedule, in ms. */
  def lateness(dueNs: Long, actualNs: Long): Double =
    math.max(0L, actualNs - dueNs) / 1e6

  /** Items offered but not yet completed at time `t`: offered items
    * whose offer time is <= t minus completed items whose completion
    * time is <= t. */
  def backlogAt(t: Long, offered: Seq[Long], completed: Seq[Long]): Int =
    offered.count(_ <= t) - completed.count(_ <= t)
}
