package graftbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above
    * it: with n sorted samples, index i has n-1-i samples beyond it, so
    * the tail is index n-11, at percentile 100*i/(n-1). None when that
    * percentile is below p90, as it is under 101 samples: a p30 is no tail.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    val i = n - 11
    if (i < 0 || 100.0 * i / (n - 1) < 90) None
    else {
      val s = xs.sorted
      Some(Tail(100.0 * i / (n - 1), s(i), n))
    }
  }
}
