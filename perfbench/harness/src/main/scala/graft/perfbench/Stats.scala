package graft.perfbench

/** Order statistics with the benchmark's reporting rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie strictly above its rank. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt // 1-based nearest rank
    if (s.isEmpty || s.length - rank < MinBeyond) None else Some(s(rank - 1))
  }

  /** The median, reported whenever there is at least one sample (the
    * middle of an odd count, the mean of the middle two of an even one). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Fewest samples for which [[percentile]] reports `p`. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(p * n).toInt >= MinBeyond).get
}
