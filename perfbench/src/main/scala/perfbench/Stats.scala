package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the highest percentile p (whole
    * percent) with at least `beyond` samples above it, i.e. the
    * nearest-rank value at p where n * (100 - p) / 100 >= beyond.
    * Returns (p, value), or None when n <= beyond: with that few samples
    * no percentile has enough support, and none is reported. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val p = (99 to 1 by -1).find(p => n.toLong * (100 - p) >= beyond.toLong * 100)
      p.map { p =>
        val s = xs.sorted
        // nearest rank: the smallest value with at least p% of samples
        // at or below it
        val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
        (p, s(rank - 1))
      }
    }
  }
}
