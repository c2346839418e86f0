package perfbench

/** Summary statistics the benchmark reports. Timings are reported as a
  * median plus the highest percentile that still has at least ten samples
  * beyond it, with the sample count, so a tail figure is never read off
  * one or two outliers.
  */
object Stats {

  /** Percentiles a tail may be reported at, highest first. The median
    * is not a tail: its nearest rank can even sit below the median.
    */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val MinBeyond = 10

  /** 1-based nearest rank of percentile p in a sample of n (the epsilon
    * keeps p * n / 100 = 9990.000000000002 from rounding up a rank).
    */
  def rank(n: Int, p: Double): Int =
    math.min(math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1), n)

  /** Nearest-rank percentile (p in (0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Number of samples strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when the sample is too small for any (n < 40).
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= MinBeyond)

  /** (percentile, value) of the tail; a sample too small for any ladder
    * step reports its maximum under percentile 100, so the caller can see
    * from the percentile that no tail was resolvable.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    tailPercentile(xs.length) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }

  /** Length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of it covered by
    * its children (children clipped to the parent; overlapping children
    * counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    }
    (end - start) - unionLength(clipped)
  }
}
