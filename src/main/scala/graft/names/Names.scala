package graft.names

/** Dot-separated metric-name operations (reference `MetricUtil.java:14-48`).
  * Directory names end with '.'; level of "a.b.c" is 3, of "a.b." is 2.
  */
object MetricNames {
  val LevelSplitter = '.'

  def isDir(name: String): Boolean =
    name.nonEmpty && name.charAt(name.length - 1) == LevelSplitter

  def splitToLevels(name: String): Array[String] = name.split("\\.")

  def lastLevel(name: String): String =
    if (isDir(name))
      name.substring(name.lastIndexOf(LevelSplitter.toInt, name.length - 2) + 1, name.length - 1)
    else name.substring(name.lastIndexOf(LevelSplitter.toInt) + 1)

  /** Parent dir with trailing dot; "" for root-level names. */
  def parent(name: String): String =
    name.substring(0, name.lastIndexOf(LevelSplitter.toInt, name.length - 2) + 1)

  def level(name: String): Int = {
    var dots = 0
    var i = 0
    while (i < name.length) {
      if (name.charAt(i) == LevelSplitter) dots += 1
      i += 1
    }
    if (isDir(name)) dots else dots + 1
  }
}

/** Ingest-time name validation (reference `MetricValidator.java:29-62`,
  * defaults `graphouse-default.properties:124-128`): char whitelist regex,
  * length 5..500, levels 2..20, no leading dot, no empty level ("..").
  */
final case class MetricValidator(
    metricRegexp: String = "[-_0-9a-zA-Z\\.]*$",
    minMetricLength: Int = 5,
    maxMetricLength: Int = 500,
    minLevels: Int = 2,
    maxLevels: Int = 20
) {
  private val pattern = java.util.regex.Pattern.compile(metricRegexp)
  private val minDots = minLevels - 1
  private val maxDots = maxLevels - 1

  def validate(name: String, allowDirs: Boolean = false): Boolean = {
    if (name.isEmpty) return false
    val dir = MetricNames.isDir(name)
    if ((!dir && name.length < minMetricLength) || name.length > maxMetricLength) return false
    if (name.charAt(0) == '.') return false
    if (!allowDirs && dir) return false
    // count dots, rejecting empty levels (two dots in a row)
    var dots = 0
    var prev = -1
    var i = name.indexOf('.')
    while (i > 0) {
      if (prev + 1 == i) return false
      prev = i
      dots += 1
      i = name.indexOf('.', prev + 1)
    }
    if ((!dir && dots < minDots) || dots > maxDots) return false
    pattern.matcher(name).matches()
  }

  /** [[validate]] as a native column expression — same checks, fully
    * codegen'd (no UDF): length window, no leading dot, no empty level,
    * level-count window, whitelist regex. `rlike` finds rather than
    * matches, so the pattern is wrapped `\A(?:…)\z` here: `\z` (true
    * end-of-input), not `$`, because an unanchored `$` matches BEFORE a
    * final line terminator — "a.b.c\n" would pass a `^…$` wrap while
    * `Pattern.matches` rejects it — and the non-capturing group keeps a
    * custom `metricRegexp` with top-level alternation correctly
    * anchored. Null name → false (the Scala form can't see a null; the
    * relational boundary defines it as invalid). `LineParserSpec` pins
    * row parity against [[validate]], line-terminator cases included.
    */
  def validColumn(name: org.apache.spark.sql.Column,
                  allowDirs: Boolean = false): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val dir = name.endsWith(".")
    // split with Spark's default limit -1 KEEPS trailing empties, so
    // "a.b." counts 2 dots — same as the imperative indexOf walk
    val dots = size(split(name, "\\.")) - 1
    val lenOk = when(dir, length(name) <= maxMetricLength)
      .otherwise(length(name).between(minMetricLength, maxMetricLength))
    val levelsOk = when(dir, dots <= maxDots).otherwise(dots.between(minDots, maxDots))
    val dirOk = if (allowDirs) lit(true) else !dir
    coalesce(
      lenOk && !name.startsWith(".") && !name.contains("..") &&
        levelsOk && dirOk && name.rlike("\\A(?:" + metricRegexp + ")\\z"),
      lit(false))
  }
}

/** Graphite glob → Java/RE2-safe regex, per-level semantics of the
  * reference's `FileSystems.getPathMatcher("glob:...")` usage
  * (`search/tree/MetricTree.java:226-239`): `*` and `?` never cross a
  * level boundary, `[a-z]` / `[!a-z]` character classes, `{a,b}` (and the
  * empty alternative `{,a}`) alternation, `\` escapes. An invalid glob
  * yields None → empty search result, not an error
  * (`MetricTree.java:227-233` semantics).
  */
object Glob {

  def hasWildcards(s: String): Boolean =
    // '\' counts: an escaped pattern ("a\[b") is not a literal name and
    // must go through regex translation everywhere, or the trie/exact
    // fast paths would compare the raw backslash text literally
    s.exists(c => c == '*' || c == '?' || c == '[' || c == ']' || c == '{' || c == '}' || c == '\\')

  /** Longest literal prefix of a glob pattern — the characters before
    * the first wildcard. Any name matching the glob necessarily starts
    * with it, which makes glob filters sargable: `name LIKE 'prefix%'`
    * is pushed to the scan while the full glob filters the remainder
    * (the reference exploits the same lexicographic-prefix property for
    * MergeTree range reads, `AutoHideService.java:131`).
    */
  def literalPrefix(glob: String): String = {
    // '\' starts an escape (the NEXT char is literal, the backslash is
    // not): stop there too — a shorter prefix is still a sound bound
    val lit = glob.takeWhile(c => !(c == '*' || c == '?' || c == '[' || c == '{' || c == '\\'))
    // a glob's trailing dots are optional ([[queryToRegex]] ends `\.?$`),
    // so "a.cpu." also matches the metric "a.cpu"
    if (lit.length == glob.length) lit.reverse.dropWhile(_ == '.').reverse else lit
  }

  /** Regex for ONE level name (no dots inside). None if the glob is invalid. */
  def levelToRegex(glob: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    var inBraces = false
    try {
      while (i < glob.length) {
        glob.charAt(i) match {
          case '*' => sb.append("[^.]*")
          case '?' => sb.append("[^.]")
          case '[' =>
            // character class: copy until unescaped ']', translating leading '!'
            val close = {
              var j = i + 1
              var first = true
              var found = -1
              while (j < glob.length && found < 0) {
                val c = glob.charAt(j)
                if (c == ']' && !first) found = j
                else {
                  if (c == '\\') j += 1
                  first = false
                  j += 1
                }
              }
              found
            }
            if (close < 0) return None
            var body = glob.substring(i + 1, close)
            if (body.startsWith("!")) body = "^" + body.substring(1)
            if (body.isEmpty) return None
            sb.append('[').append(body).append(']')
            i = close
          case ']' => return None // unmatched
          case '{' =>
            if (inBraces) return None // no nesting, like PathMatcher
            inBraces = true
            sb.append("(?:")
          case '}' =>
            if (!inBraces) return None
            inBraces = false
            sb.append(')')
          case ',' if inBraces => sb.append('|')
          case '\\' =>
            if (i + 1 >= glob.length) return None
            i += 1
            sb.append(java.util.regex.Pattern.quote(glob.charAt(i).toString))
          case c => sb.append(escapeLiteral(c))
        }
        i += 1
      }
      if (inBraces) None
      else {
        // a structurally-copied char class can still be regex-invalid
        // (e.g. "[z-[]" — reversed range); the reference treats any
        // invalid glob as match-nothing, so validate compilability here
        val s = sb.toString
        try { java.util.regex.Pattern.compile(s); Some(s) }
        catch { case _: Exception => None }
      }
    } catch { case _: Exception => None }
  }

  /** Anchored regex for a FULL multi-level query ("a.*.c{x,y}"):
    * levels are converted independently and joined by literal dots; a
    * trailing-dot variant is allowed so directory rows (name ends with '.')
    * match too. None if any level's glob is invalid.
    */
  def queryToRegex(query: String): Option[String] = {
    val levels = MetricNames.splitToLevels(query)
    if (levels.isEmpty) return None
    val parts = new Array[String](levels.length)
    var i = 0
    while (i < levels.length) {
      levelToRegex(levels(i)) match {
        case Some(r) => parts(i) = r
        case None    => return None
      }
      i += 1
    }
    Some("^" + parts.mkString("\\.") + "\\.?$")
  }

  private def escapeLiteral(c: Char): String =
    if ("\\^$.|+()".indexOf(c.toInt) >= 0) "\\" + c else c.toString
}

/** Column-expression forms of the name operations — S3's host-metric
  * redirect as a pure `when/otherwise` expression (reference
  * `server/BaseMetricFactory.java:80-91`), usable inside codegen'd
  * relational pipelines where the row-wise [[graft.ingest.LineParser]]
  * boundary isn't in play.
  */
object MetricNameCols {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** `a.hostPOSTFIX.rest` → `a.DIRNAME.hostPOSTFIX.rest` when the
    * second level ends with any of `postfixes`; other names unchanged.
    */
  def hostRedirect(name: Column, postfixes: Seq[String], dirName: String): Column = {
    if (postfixes.isEmpty) return name
    val firstDot = instr(name, ".")
    val rest = name.substr(firstDot + 1, length(name))
    val second = substring_index(rest, ".", 1)
    val hasSecondDot = instr(rest, ".") > 0
    val matches = postfixes.map(p => second.endsWith(p)).reduce(_ || _)
    // reference splice: name[0..firstDot] + dirName + name[firstDot..]
    // (the second copy of the dot comes from the tail starting AT it)
    when(firstDot > 0 && hasSecondDot && matches,
      concat(name.substr(lit(1), firstDot), lit(dirName), name.substr(firstDot, length(name))))
      .otherwise(name)
  }
}
