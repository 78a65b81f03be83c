package perfbench

/** Order statistics and the failure tally the benchmark reports. */
object Stats {

  /** Linear interpolation between closest ranks (numpy's default):
    * `p` in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The percentiles a tail latency may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** A tail latency: the percentile, its value and how many samples lie
    * strictly above the value.
    */
  final case class Tail(pct: Double, value: Double, beyond: Int, n: Int)

  /** The highest [[Ladder]] percentile with at least `minBeyond` samples
    * strictly above it. When even the median has fewer, the median is
    * returned and its `beyond` count shows the shortfall.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val at = Ladder.map { p =>
      val v = percentile(xs, p)
      Tail(p, v, xs.count(_ > v), xs.size)
    }
    at.find(_.beyond >= minBeyond).getOrElse(at.last)
  }

  /** What one timed query came to. */
  sealed trait Outcome
  case object Matched extends Outcome
  final case class Mismatched(got: String, want: String) extends Outcome
  final case class Threw(message: String) extends Outcome

  /** Queries attempted and the ids of those that threw or whose digest
    * differed from the golden.
    */
  final case class Tally(attempted: Int, threw: Seq[String], mismatched: Seq[String]) {
    def failed: Int = threw.size + mismatched.size
    def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
    def failedIds: Seq[String] = (threw ++ mismatched).distinct.sorted
  }

  def tally(outcomes: Seq[(String, Outcome)]): Tally = Tally(
    outcomes.size,
    outcomes.collect { case (id, _: Threw) => id },
    outcomes.collect { case (id, _: Mismatched) => id })
}
