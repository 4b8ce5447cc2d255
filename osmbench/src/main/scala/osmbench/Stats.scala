package osmbench

/** Order statistics for the bench's timings. Every timing is reported
  * as a median plus the highest percentile that still has at least
  * [[MinBeyond]] samples above it, always with n: a "p99" over 64
  * samples is one sample, not a percentile. */
object Stats {

  val MinBeyond = 10

  /** Percentiles the tail picker may name, highest last. */
  val TailCandidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  final case class Summary(n: Int, median: Double,
                           tailPct: Option[Double], tail: Option[Double])

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile `p` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size}")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** The highest candidate percentile with at least `minBeyond` samples
    * ranked above it, and its value; None when even the median lacks
    * that many. */
  def tail(xs: Seq[Double], minBeyond: Int = MinBeyond)
  : Option[(Double, Double)] =
    TailCandidates.reverse.find(p => xs.size - rank(xs.size, p) >= minBeyond)
      .map(p => (p, percentile(xs, p)))

  def summary(xs: Seq[Double]): Summary = {
    val t = tail(xs)
    Summary(xs.size, median(xs), t.map(_._1), t.map(_._2))
  }
}
