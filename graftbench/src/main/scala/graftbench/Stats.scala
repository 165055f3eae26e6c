package graftbench

/** Order statistics and interval arithmetic the benchmark reports with. */
object Stats {

  /** A tail latency: the sample with exactly `beyond` samples above it, the
    * percentile that sample sits at, and how many samples it came from.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Samples a tail must leave above it before it may be reported. */
  val TailBeyond = 10

  /** Fewest samples a run takes, so that a tail always exists. */
  val MinSamples = TailBeyond + 2

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least [[TailBeyond]] samples beyond it:
    * the (TailBeyond+1)-th largest sample, at nearest-rank percentile
    * 100·(n − TailBeyond)/n. None when there are not enough samples.
    */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.size <= TailBeyond) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n))
    }

  /** Total length covered by a set of half-open intervals (overlaps counted once). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS    = Double.NaN
    var curE    = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { covered += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover. Children are clipped to the span, and overlapping
    * children count once.
    */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    math.max(0.0, (e - s) - unionLength(clipped))
  }
}
