package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-walk native form of the `UrlOps.urlNormalize` regex chain —
  * the canonical-URL map work every URL-tier consumer (dedup, caps,
  * robots, frontier, fetch plan) pays per row. The Column chain stays
  * the specification (`RegexChains.urlNormalizeRegex`, in src/test):
  * `UrlNormSpec` runs BOTH forms through Spark over the fixture's hostile dimensions and
  * random URLs and asserts row equality, and the DuckDB oracles
  * replay the regex semantics — so native-vs-chain parity is oracle
  * parity.
  *
  * Semantics replicated component-for-component (each step cites its
  * regex): trim spaces; scheme `^([A-Za-z][A-Za-z0-9+.-]*)://`
  * (ASCII lower); authority `[^/?#]*` with GREEDY userinfo strip
  * (`^.*@` — to the LAST '@') and Unicode lower (UTF8String
  * toLowerCase ≡ Spark `lower`); host = prefix before ':'/'[' with
  * trailing dots stripped; port = trailing `:digits`; default-port
  * drop; path = `[^?#]*` after authority, percent-canonicalized
  * (RFC 3986 §6.2.2: unreserved escapes decode, other escape hex
  * uppercases, malformed escapes and pre-existing U+0002 sentinel
  * bytes keep the split-chain behavior), trailing '/' runs stripped;
  * query = after the FIRST '?' of the fragment-stripped URL, '+'→%20
  * then pct-canon, split '&', empties and tracking/extra-kill params
  * dropped (RE2 semantics of the anchored trackingRe: a param whose
  * value carries a line terminator is NOT killed), survivors sorted
  * in UTF8 BINARY order (≡ array_sort) and '&'-joined; no scheme or
  * no host → both outputs NULL (the quarantine convention).
  */
object UrlNorm extends Serializable {

  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isHex(c: Char): Boolean =
    isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') || (v >= '0' && v <= '9') ||
      v == '-' || v == '.' || v == '_' || v == '~'

  /** RFC 3986 §6.2.2 percent canonicalization ≡ `UrlOps.pctCanon`:
    * pre-existing U+0002 strips, each '%'-site with two hex chars
    * decodes (unreserved) or uppercases, malformed sites keep '%'.
    */
  def pctCanon(piece: String): String = {
    if (piece.indexOf('%') < 0 && piece.indexOf('\u0002') < 0) return piece
    val c = if (piece.indexOf('\u0002') >= 0) piece.replace("\u0002", "") else piece
    val n = c.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val ch = c.charAt(i)
      if (ch == '%' && i + 2 < n && isHex(c.charAt(i + 1)) && isHex(c.charAt(i + 2))) {
        val h1 = Character.toUpperCase(c.charAt(i + 1))
        val h2 = Character.toUpperCase(c.charAt(i + 2))
        val v = Character.digit(h1, 16) * 16 + Character.digit(h2, 16)
        if (isUnreserved(v)) sb.append(v.toChar)
        else { sb.append('%'); sb.append(h1); sb.append(h2) }
        i += 3
      } else {
        sb.append(ch)
        i += 1
      }
    }
    sb.toString
  }

  /** The static tracking kill (trackingRe): key is the prefix before
    * '='; killed iff the key is `utm_*` (any non-=& tail) or one of
    * the click ids, AND the value (when present) carries no '\n'
    * (RE2 `.` stops at a line feed, so such params survive the regex
    * and must survive here).
    *
    * SEMANTICS NOTE (r14 advice): RE2 — the DuckDB oracle's engine —
    * is CANONICAL for this walk. The retained `urlNormalizeRegex`
    * Column chain runs through java.util.regex, which differs on line
    * terminators inside a VALUE: java `$` also matches before a final
    * '\n' (so `gclid=x\n` IS killed by the chain but kept here and by
    * the oracle), and java `.` additionally excludes \r/U+0085/U+2028/
    * U+2029 (so `gclid=a\rb` is kept by the chain but killed here and
    * by the oracle). The native/oracle behavior is the declared one;
    * UrlNormSpec pins both divergent fixtures explicitly.
    */
  private val killKeys = java.util.Set.of(
    "fbclid", "gclid", "msclkid", "mc_eid", "igshid", "yclid", "_hsenc", "_hsmi")

  private def trackingKilled(p: String): Boolean = {
    val eq = p.indexOf('=')
    val key = if (eq >= 0) p.substring(0, eq) else p
    val keyHit = key.startsWith("utm_") || killKeys.contains(key)
    keyHit && (eq < 0 || p.indexOf('\n', eq + 1) < 0)
  }

  /** Unicode lower ≡ Spark `lower` (UTF8String.toLowerCase). */
  @inline private def lowerU(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** (url_norm, host) of one raw URL; nulls when unparseable. The
    * `extraKill` set holds reviewed param KEYS (exact match on the
    * prefix before '=').
    */
  def normHost(u0: UTF8String, extraKill: java.util.Set[String]): (UTF8String, UTF8String) = {
    val s0 = u0.toString
    // trim ≡ functions.trim: leading/trailing 0x20 only
    var b0 = 0
    var e0 = s0.length
    while (b0 < e0 && s0.charAt(b0) == ' ') b0 += 1
    while (e0 > b0 && s0.charAt(e0 - 1) == ' ') e0 -= 1
    val u = s0.substring(b0, e0)
    val n = u.length
    // scheme: ^([A-Za-z][A-Za-z0-9+.-]*)://
    var schemeEnd = -1
    if (n > 0 && isAlpha(u.charAt(0))) {
      var j = 1
      while (j < n && isSchemeChar(u.charAt(j))) j += 1
      if (j + 2 < n + 1 && u.startsWith("://", j)) schemeEnd = j
    }
    if (schemeEnd < 0) return (null, null) // scheme === "" → invalid
    val scheme = u.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT) // ASCII set
    val a0 = schemeEnd + 3
    // authority: [^/?#]*
    var aEnd = a0
    while (aEnd < n && { val c = u.charAt(aEnd); c != '/' && c != '?' && c != '#' }) aEnd += 1
    val auth = u.substring(a0, aEnd)
    // userinfo: greedy to the LAST '@', then Unicode lower
    val hostport = lowerU(auth.substring(auth.lastIndexOf('@') + 1))
    // host: ^([^:\[]*) with trailing dots stripped
    var hEnd = 0
    while (hEnd < hostport.length &&
      { val c = hostport.charAt(hEnd); c != ':' && c != '[' }) hEnd += 1
    var hTrim = hEnd
    while (hTrim > 0 && hostport.charAt(hTrim - 1) == '.') hTrim -= 1
    val host = hostport.substring(0, hTrim)
    if (host.isEmpty) return (null, null) // host === "" → invalid
    // port: :([0-9]+)$
    var pStart = hostport.length
    while (pStart > 0 && isDigit(hostport.charAt(pStart - 1))) pStart -= 1
    val port =
      if (pStart < hostport.length && pStart > 0 && hostport.charAt(pStart - 1) == ':')
        hostport.substring(pStart)
      else ""
    val keepPort = port.nonEmpty &&
      !((scheme == "http" && port == "80") || (scheme == "https" && port == "443"))
    // path: ([^?#]*) after the authority, pct-canon, trailing '/'+ strip
    var pEnd = aEnd
    while (pEnd < n && { val c = u.charAt(pEnd); c != '?' && c != '#' }) pEnd += 1
    val pathC = pctCanon(u.substring(aEnd, pEnd))
    var pTrim = pathC.length
    while (pTrim > 0 && pathC.charAt(pTrim - 1) == '/') pTrim -= 1
    val path = pathC.substring(0, pTrim)
    // query: first '?' of the fragment-stripped url
    val fi = u.indexOf('#')
    val uNoFrag = if (fi >= 0) u.substring(0, fi) else u
    val qi = uNoFrag.indexOf('?')
    val qs =
      if (qi < 0) ""
      else {
        val qraw = pctCanon(uNoFrag.substring(qi + 1).replace("+", "%20"))
        val parts = qraw.split("&", -1)
        val kept = new scala.collection.mutable.ArrayBuffer[UTF8String](parts.length)
        parts.foreach { p =>
          if (p.nonEmpty && !trackingKilled(p)) {
            val eq = p.indexOf('=')
            val key = if (eq >= 0) p.substring(0, eq) else p
            if (!extraKill.contains(key)) kept += UTF8String.fromString(p)
          }
        }
        // array_sort over strings = UTF8 binary order
        val arr = kept.toArray
        java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
        arr.mkString("&")
      }
    val sb = new java.lang.StringBuilder(u.length + 8)
    sb.append(scheme).append("://").append(host)
    if (keepPort) sb.append(':').append(port)
    sb.append(path)
    if (qs.nonEmpty) sb.append('?').append(qs)
    (UTF8String.fromString(sb.toString), UTF8String.fromString(host))
  }
}

/** `url_norm_host(url)` → struct(url_norm, host), ≡ the
  * `RegexChains.urlNormalizeRegex` chain (src/test) with kill keys
  * `extraKill`.
  */
case class UrlNormHostExpression(child: Expression, extraKill: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"url_norm_host needs a string input, got ${dt.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("url_norm", StringType, nullable = true),
    StructField("host", StringType, nullable = true)))

  override def nullable: Boolean = child.nullable

  @transient private lazy val killSet: java.util.Set[String] = {
    val h = new java.util.HashSet[String]()
    extraKill.foreach(h.add)
    h
  }

  override def nullSafeEval(input: Any): Any = {
    val (un, h) = UrlNorm.normHost(input.asInstanceOf[UTF8String], killSet)
    new GenericInternalRow(Array[Any](un, h))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = UrlNorm.getClass.getName + ".MODULE$"
    val killRef = ctx.addReferenceObj("killSet", killSet, "java.util.Set<String>")
    val tup = ctx.freshName("nh")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |scala.Tuple2 $tup = $helper.normHost($c, $killRef);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { $tup._1(), $tup._2() });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): UrlNormHostExpression =
    copy(child = newChild)

  override def prettyName: String = "url_norm_host"
}

/** RFC 3986 §5.2 resolution + host extraction as native walks — the
  * per-LINK hot path of the link tier (one resolveRef + up to two
  * hostOf per extracted href). Same contract as [[UrlNorm]]: the
  * Column chains (`RegexChains.resolveRefRegex` / `hostOfRegex`, in
  * src/test) stay the executable spec, `UrlNormSpec` pins equality
  * through Spark, and `UrlOpsSpec`'s complete §5.4 normal/abnormal golden tables run
  * against THIS implementation.
  */
object UrlResolve extends Serializable {

  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** `(^|/)\.\.?$` — §5.2.4's trailing-directory rule trigger. */
  @inline private def dotTail(p: String): Boolean =
    p == "." || p == ".." || p.endsWith("/.") || p.endsWith("/..")

  /** §5.2.4 remove_dot_segments ≡ `UrlOps.removeDotSegments`'s
    * aggregate fold: segments of the leading-slash-stripped path fold
    * left ('.': skip; '..': drop acc's last '/segment'; else append
    * '/'+seg), then the dot-tail rule re-appends the directory slash.
    */
  def removeDotSegments(p: String): String = {
    val body = if (p.startsWith("/")) p.substring(1) else p
    val segs = body.split("/", -1)
    val sb = new java.lang.StringBuilder(p.length + 1)
    var i = 0
    while (i < segs.length) {
      val x = segs(i)
      if (x == ".") ()
      else if (x == "..") {
        // regexp_replace(acc, "/[^/]*$", ""): needs a '/', else unchanged
        val idx = sb.lastIndexOf("/")
        if (idx >= 0) sb.setLength(idx)
      } else {
        sb.append('/').append(x)
      }
      i += 1
    }
    if (dotTail(p)) sb.append('/')
    sb.toString
  }

  /** Scheme end of `^[A-Za-z][A-Za-z0-9+.-]*://`, or -1. */
  @inline private def schemeEnd(u: String): Int = {
    val n = u.length
    if (n == 0 || !isAlpha(u.charAt(0))) return -1
    var j = 1
    while (j < n && isSchemeChar(u.charAt(j))) j += 1
    if (u.startsWith("://", j)) j else -1
  }

  /** `^[A-Za-z][A-Za-z0-9+.-]*:` — a reference carrying its own scheme. */
  @inline private def hasScheme(r: String): Boolean = {
    val n = r.length
    if (n == 0 || !isAlpha(r.charAt(0))) return false
    var j = 1
    while (j < n && isSchemeChar(r.charAt(j))) j += 1
    j < n && r.charAt(j) == ':'
  }

  /** ≡ `RegexChains.resolveRefRegex(base, ref)`; null when base carries no
    * `scheme://`.
    */
  def resolveRef(baseU: UTF8String, refU: UTF8String): UTF8String = {
    val base = baseU.toString
    val ref = refU.toString
    val se = schemeEnd(base)
    if (se < 0) return null
    val scheme = base.substring(0, se).toLowerCase(java.util.Locale.ROOT)
    val n = base.length
    val a0 = se + 3
    var aEnd = a0
    while (aEnd < n && { val c = base.charAt(aEnd); c != '/' && c != '?' && c != '#' }) aEnd += 1
    val origin = scheme + "://" + base.substring(a0, aEnd)
    var pEnd = aEnd
    while (pEnd < n && { val c = base.charAt(pEnd); c != '?' && c != '#' }) pEnd += 1
    val basePath = base.substring(aEnd, pEnd)
    val fi = ref.indexOf('#')
    val rr = if (fi >= 0) ref.substring(0, fi) else ref
    if (rr.isEmpty) return baseWithoutChange(baseU)
    if (hasScheme(rr)) return UTF8String.fromString(rr)
    if (rr.startsWith("//")) return UTF8String.fromString(scheme + ":" + rr)
    if (rr.startsWith("?")) return UTF8String.fromString(origin + basePath + rr)
    val qi = rr.indexOf('?')
    val rp = if (qi >= 0) rr.substring(0, qi) else rr
    val rq = if (qi >= 0) rr.substring(qi) else ""
    if (rr.startsWith("/"))
      UTF8String.fromString(origin + removeDotSegments(rp) + rq)
    else {
      val baseDir =
        if (basePath.isEmpty) "/"
        else basePath.substring(0, basePath.lastIndexOf('/') + 1)
      UTF8String.fromString(origin + removeDotSegments(baseDir + rp) + rq)
    }
  }

  @inline private def baseWithoutChange(b: UTF8String): UTF8String = b

  /** ≡ `RegexChains.hostOfRegex(url)`: authority → userinfo strip →
    * Unicode lower → host prefix (before ':'/'[') → trailing-dot
    * strip; '' when the value has no `scheme://` form.
    */
  def hostOf(u0: UTF8String): UTF8String = {
    val u = u0.toString
    val se = schemeEnd(u)
    if (se < 0) return UTF8String.EMPTY_UTF8
    val n = u.length
    val a0 = se + 3
    var aEnd = a0
    while (aEnd < n && { val c = u.charAt(aEnd); c != '/' && c != '?' && c != '#' }) aEnd += 1
    val auth = u.substring(a0, aEnd)
    val hostport = UTF8String.fromString(auth.substring(auth.lastIndexOf('@') + 1))
      .toLowerCase.toString
    var hEnd = 0
    while (hEnd < hostport.length &&
      { val c = hostport.charAt(hEnd); c != ':' && c != '[' }) hEnd += 1
    var hTrim = hEnd
    while (hTrim > 0 && hostport.charAt(hTrim - 1) == '.') hTrim -= 1
    UTF8String.fromString(hostport.substring(0, hTrim))
  }
}

/** `resolve_ref(base, ref)` — see [[UrlResolve.resolveRef]]. */
case class ResolveRefExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"resolve_ref needs string inputs, got ${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(base: Any, ref: Any): Any =
    UrlResolve.resolveRef(base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = UrlResolve.getClass.getName + ".MODULE$"
    val code = nullSafeCodeGen(ctx, ev, (b, r) => {
      s"""
         |${ev.value} = $helper.resolveRef($b, $r);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
    code
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResolveRefExpression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "resolve_ref"
}

/** `host_of(url)` — see [[UrlResolve.hostOf]]. */
case class HostOfExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"host_of needs a string input, got ${dt.catalogString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    UrlResolve.hostOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = UrlResolve.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hostOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HostOfExpression =
    copy(child = newChild)

  override def prettyName: String = "host_of"
}

object UrlNormExprs {
  /** struct(url_norm, host) of a raw URL column. */
  def urlNormHost(url: Column, extraKill: Seq[String] = Nil): Column =
    Bridge.column(UrlNormHostExpression(Bridge.expression(url), extraKill))

  /** RFC 3986 §5.2 resolution of `ref` against normalized `base`. */
  def resolveRef(base: Column, ref: Column): Column =
    Bridge.column(ResolveRefExpression(Bridge.expression(base), Bridge.expression(ref)))

  /** Host of an absolute URL ('' when not `scheme://`-formed). */
  def hostOf(url: Column): Column =
    Bridge.column(HostOfExpression(Bridge.expression(url)))
}
