package perfbench

/** Order statistics the benchmark reports. Pure, so the spec can pin
  * them down. */
object Stats {

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail estimate: `value` is the sample at `percentile`, with
    * `beyond` of the `n` samples above it. */
  final case class Tail(value: Double, percentile: Double, n: Int,
      beyond: Int)

  /** The highest percentile with at least `minBeyond` samples beyond
    * it: the (n - minBeyond)-th smallest sample. With too few samples
    * for that, the maximum, flagged by `beyond` < `minBeyond`. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= minBeyond) Tail(s.last, 100.0, n, 0)
    else {
      val rank = n - minBeyond // 1-based
      Tail(s(rank - 1), 100.0 * rank / n, n, minBeyond)
    }
  }
}
