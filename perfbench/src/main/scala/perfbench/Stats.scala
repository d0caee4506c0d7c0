package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * on its own (`sbt test` in this directory). */
object Stats {

  /** Least samples that must lie strictly beyond the reported tail. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest nearest-rank percentile that still has
    * at least [[TailBeyond]] samples beyond it. With `n` sorted samples
    * that is rank `n - 10` (1-based), i.e. percentile `100 (n - 10) / n`.
    * With `n <= 10` no such percentile exists, and the slowest sample
    * stands in (percentile 100). Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    if (n <= TailBeyond) (xs.max, 100.0)
    else {
      val rank = n - TailBeyond
      (xs.sorted.apply(rank - 1), 100.0 * rank / n)
    }
  }

  /** Total length of the union of `intervals`, each clipped to
    * `[lo, hi]`. Empty or inverted intervals contribute nothing. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Wall time of `[start, end]` during which nothing in `busy` ran. */
  def idle(start: Double, end: Double, busy: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(busy, start, end)

  /** A span's self time: its duration minus the part of it that its child
    * spans cover (children may overlap each other). */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    idle(start, end, children)
}
