package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** The `p`-th percentile (0 < p < 1, nearest rank) of `xs`. Refuses
    * (throws) when fewer than [[MinBeyond]] samples lie beyond it, so a
    * tail figure is never read off a handful of points.
    */
  def percentile(xs: Array[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val n = xs.length
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    val beyond = n - rank
    if (rank < 1 || beyond < MinBeyond)
      throw new IllegalStateException(
        s"refusing p${(p * 100).round} of $n samples: $beyond lie beyond it, need $MinBeyond")
    val s = xs.clone()
    java.util.Arrays.sort(s)
    s(rank - 1)
  }

  /** Middle value (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
