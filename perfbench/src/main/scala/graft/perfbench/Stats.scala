package graft.perfbench

/** Order statistics and span arithmetic used by the benchmark (pure). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)` (the
    * default "exclusive" method) computes them, so in-run spreads match
    * the figures a reader recomputes from the printed values.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val d = xs.sorted
    val ld = d.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Interquartile distance as a share of the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, _, q3) = quartiles(xs)
    (q3 - q1) / median(xs)
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (overlapping children are counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(children, start, end)
}
