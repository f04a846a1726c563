package perfbench

/** Order statistics for run summaries. */
object Stats {

  /** A tail percentile must have at least this many samples beyond it. */
  val MinTail = 10

  /** Percentiles tried, highest first, when reporting a tail. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Number of samples that lie beyond the p-th percentile of n samples. */
  def samplesBeyond(n: Int, p: Double): Int = math.floor(n * (1.0 - p / 100.0) + 1e-9).toInt

  /** Linearly interpolated p-th percentile. Refuses (throws) when fewer than
    * [[MinTail]] samples lie beyond it: such a "tail" is one or two
    * samples and repeats from run to run no better than the maximum. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(
      samplesBeyond(xs.size, p) >= MinTail,
      s"p$p of ${xs.size} samples has fewer than $MinTail samples beyond it")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** The highest percentile of [[TailLadder]] with at least [[MinTail]]
    * samples beyond it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.find(p => samplesBeyond(xs.size, p) >= MinTail).map(p => p -> percentile(xs, p))
}
