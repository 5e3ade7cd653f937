package graftbench

/** Expected answers, computed from the generator's model without calling
  * the code under test. Retention ladders and glob rules are restated
  * here for the names the generator writes.
  */
object Expected {

  /** The default rule table's ladders for the two prefixes written:
    * (age seconds, step seconds), rollup function avg.
    */
  def ladder(metric: String): Seq[(Int, Int)] =
    if (metric.startsWith("five_min.")) Seq(0 -> 300, 7776000 -> 600)
    else Seq(0 -> 60, 604800 -> 300, 7776000 -> 600)

  def stepFor(metric: String, ageSeconds: Int): Int =
    ladder(metric).filter(_._1 <= math.max(ageSeconds, 0)).last._2

  /** A series as `metricData` returns it. Missing buckets are None. */
  final case class Series(start: Int, end: Int, step: Int, points: IndexedSeq[Option[Double]])

  /** Per-level graphite glob: `*`, `?` and `{a,b}`; dirs match with
    * their trailing dot.
    */
  def globMatches(pattern: String, name: String): Boolean = {
    val ps = pattern.split('.')
    val ns = name.stripSuffix(".").split('.')
    ps.length == ns.length && ps.indices.forall(i => levelRegex(ps(i)).matcher(ns(i)).matches())
  }

  private val regexCache = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def levelRegex(level: String): java.util.regex.Pattern =
    regexCache.computeIfAbsent(level, l => java.util.regex.Pattern.compile(
      l.map {
        case '*' => "[^.]*"
        case '?' => "[^.]"
        case '{' => "(?:"
        case '}' => ")"
        case ',' => "|"
        case c => java.util.regex.Pattern.quote(c.toString)
      }.mkString))

  def hasWildcards(p: String): Boolean = p.exists("*?{}[]\\".contains(_))

  /** `metricData(patterns, start, end, now)` over a store holding
    * `data` (deduped: metric -> ts -> value) whose visible metrics are
    * `visible`: globs expand to visible metrics, exact names are always
    * answered, invisible or unknown names get all-null series; one step
    * (the largest any requested metric needs at the request's age) is
    * aligned like the reference's query params; each bucket is the avg
    * of its points.
    */
  def metricData(patterns: Seq[String], start: Int, end: Int, now: Int,
                 visible: Iterable[String], data: String => Option[collection.Map[Int, Double]]): Map[String, Series] = {
    val exact = patterns.distinct.filterNot(hasWildcards)
    val matched = visible.filter(n => patterns.exists(p => globMatches(p, n))).toSet
    val requested = matched ++ exact
    if (requested.isEmpty) return Map.empty
    val step = requested.iterator.map(stepFor(_, now - start)).max
    val points = (end - start) / step
    val alignedStart = start / step * step
    val alignedEnd = alignedStart + points * step
    requested.iterator.map { m =>
      val buckets: Map[Int, Double] =
        if (!matched(m)) Map.empty
        else data(m).getOrElse(Map.empty[Int, Double])
          .filter { case (ts, _) => ts >= alignedStart && ts < alignedEnd }
          .groupBy { case (ts, _) => ts - ts % step }
          .map { case (b, pts) => b -> pts.values.sum / pts.size }
      m -> Series(alignedStart, alignedEnd, step,
        (0 until points).map(i => buckets.get(alignedStart + i * step)))
    }.toMap
  }

  /** Float tolerance for bucket averages: Spark and this model sum the
    * same doubles in different orders.
    */
  val Tolerance = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tolerance * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** None when equal, else the first difference found. */
  def diff(expected: Map[String, Series], actual: Map[String, Series]): Option[String] = {
    if (expected.keySet != actual.keySet) {
      val missing = (expected.keySet -- actual.keySet).take(3)
      val extra = (actual.keySet -- expected.keySet).take(3)
      return Some(s"series names differ: missing $missing, unexpected $extra")
    }
    expected.keys.toSeq.sorted.iterator.flatMap { m =>
      val e = expected(m); val a = actual(m)
      if ((e.start, e.end, e.step) != (a.start, a.end, a.step))
        Some(s"$m: grid (${a.start},${a.end},${a.step}) != expected (${e.start},${e.end},${e.step})")
      else if (e.points.size != a.points.size) Some(s"$m: ${a.points.size} points != ${e.points.size}")
      else e.points.indices.collectFirst {
        case i if !((e.points(i), a.points(i)) match {
          case (None, None) => true
          case (Some(x), Some(y)) => close(x, y)
          case _ => false
        }) => s"$m: point $i is ${a.points(i)}, expected ${e.points(i)}"
      }
    }.nextOption()
  }
}
