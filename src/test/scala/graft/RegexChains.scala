package graft

import graft.ops.TextOps.{numericEntities, tagBody}
import graft.ops.UrlOps.{absRefRe, authRe, fragmentRe, hostRe, pathRe, pctCanon, portRe, queryRe,
  refQueryRe, refQueryStripRe, removeDotSegments, schemeRe, trackingRe, trailingDotsRe, userinfoRe}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The regex chains the native text and URL expressions replaced, kept
  * as the executable specifications the property specs compare those
  * expressions against.
  */
object RegexChains {

  /** The regex-chain specification of `TextOps.htmlLines`. The DuckDB
    * extraction oracles replay this chain verbatim; `HtmlLinesSpec` pins
    * the native walk against its java.util.regex replica.
    */
  def htmlLinesRegex(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // tag BODIES are quote-aware (attribute values may contain '>':
    // <a title="a>b"> must strip whole, not truncate at the quoted '>')
    val blockNl = regexp_replace(noComment,
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article" +
        "|header|footer|nav|blockquote|title|pre)\\b" + tagBody + ">", "\n")
    val noTags = regexp_replace(blockNl, "(?s)<" + tagBody + ">", " ")
    val named = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    // bounded numeric-entity decode (dec + hex forms, leading zeros,
    // case-insensitive hex) — the &-family LAST and in ONE single-pass
    // regex, so decoded '&' cannot re-form an entity and double-encoded
    // text ('&amp;#38;' -> the literal text '&#38;') cannot double-decode
    val decoded = regexp_replace(
      numericEntities.foldLeft(named) { case (c, (pat, to)) =>
        regexp_replace(c, pat, to)
      }, "(?i)&(?:amp|#0*38|#x0*26);", "&")
    filter(
      transform(split(decoded, "\n", -1), l => trim(regexp_replace(l, "\\s+", " "))),
      l => l =!= "")
  }

  /** The regex-chain specification of `UrlOps.urlNormalize`: the
    * executable spec the native walk (`UrlNormExprs`) is property-pinned
    * against (`UrlNormSpec`). The DuckDB URL oracles replay this chain
    * verbatim, so native-vs-chain parity here IS oracle parity.
    */
  def urlNormalizeRegex(docs: DataFrame, idCol: String = "doc_id",
                                       urlCol: String = "url",
                                       extraKill: Seq[String] = Nil): DataFrame = {
    val u = trim(col(urlCol))
    // fragment FIRST: a '?' inside '#/view?sid=1' must not become the query
    val uNoFrag = regexp_replace(u, fragmentRe, "")
    val scheme = lower(regexp_extract(u, schemeRe, 1))
    val hostport = lower(regexp_replace(regexp_extract(u, authRe, 1), userinfoRe, ""))
    val host = regexp_replace(regexp_extract(hostport, hostRe, 1), trailingDotsRe, "")
    val port = regexp_extract(hostport, portRe, 1)
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val path = regexp_replace(pctCanon(regexp_extract(u, pathRe, 1)), "/+$", "")
    // '+' -> %20 BEFORE pctCanon (both spell a space in a query); then
    // canonicalize escapes BEFORE the tracking filter, so an encoded
    // spelling of a tracking key ('utm%5Fsource') cannot evade the kill
    val qraw = pctCanon(replace(regexp_extract(uNoFrag, queryRe, 1), lit("+"), lit("%20")))
    val killExtra = (p: Column) =>
      if (extraKill.isEmpty) lit(false)
      else regexp_extract(p, "^([^=]*)", 1).isin(extraKill: _*)
    val qs = array_join(array_sort(filter(split(qraw, "&", -1),
      p => p =!= "" && !p.rlike(trackingRe) && !killExtra(p))), "&")
    val norm = concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
    val invalid = scheme === "" || host === ""
    docs.select(col(idCol), col(urlCol),
      when(invalid, lit(null).cast("string")).otherwise(norm).as("url_norm"),
      when(invalid, lit(null).cast("string")).otherwise(host).as("host"))
  }

  /** The regex-chain specification of `UrlOps.hostOf` (see
    * [[urlNormalizeRegex]]'s parity contract).
    */
  def hostOfRegex(url: Column): Column =
    regexp_replace(
      regexp_extract(
        lower(regexp_replace(regexp_extract(url, authRe, 1), userinfoRe, "")),
        hostRe, 1),
      trailingDotsRe, "")

  /** The regex-chain specification of `UrlOps.resolveRef` (see
    * [[urlNormalizeRegex]]'s parity contract; the §5.4 goldens in
    * `UrlOpsSpec` run against the native form).
    */
  def resolveRefRegex(base: Column, ref: Column): Column = {
    val rr = regexp_replace(ref, fragmentRe, "")
    val scheme = lower(regexp_extract(base, schemeRe, 1))
    val auth = regexp_extract(base, authRe, 1)
    val origin = concat(scheme, lit("://"), auth)
    val basePath = regexp_extract(base, pathRe, 1)
    val baseDir = when(basePath === "", lit("/"))
      .otherwise(regexp_replace(basePath, "[^/]*$", ""))
    val rp = regexp_replace(rr, refQueryStripRe, "")
    val rq = regexp_extract(rr, refQueryRe, 1)
    when(scheme === "", lit(null).cast("string"))
      .when(rr === "", base)
      .when(rr.rlike(absRefRe), rr)
      .when(rr.startsWith("//"), concat(scheme, lit(":"), rr))
      .when(rr.startsWith("?"), concat(origin, basePath, rr))
      .when(rr.startsWith("/"), concat(origin, removeDotSegments(rp), rq))
      .otherwise(concat(origin, removeDotSegments(concat(baseDir, rp)), rq))
  }
}
