package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** URL-tier curation operators — the stage BEFORE HTML extraction in a
  * raw-web training-data pipeline (the CCNet/RefinedWeb/Dolma-class
  * build order): crawl frontiers concentrate URL-level duplicates that
  * are cheaper to kill before a single byte of markup is parsed — the
  * q261 measured extract-before-dedup argument applied one stage
  * earlier. Four operators:
  *
  *   - [[urlNormalize]]   canonical URL form (case, ports, userinfo,
  *                        trailing slashes, tracking params, fragments)
  *   - [[urlDedup]]       exact dedup on the normalized form
  *   - [[registeredDomain]] public-suffix-lite registrable domain
  *   - [[domainCaps]]     per-registered-domain document caps
  *
  * Everything except the dedup/cap aggregates is a map-only column
  * expression (no UDF), so the tier scales exactly like the scan; the
  * dedup shuffle keys on the normalized URL and the cap window keys on
  * the registered domain — both naturally high-cardinality keys at
  * corpus scale. Every regex/pattern here is shared verbatim with the
  * DuckDB oracle chain (spliced from these constants), so the two
  * engines cannot drift.
  */
object UrlOps {

  /** Per-component URL patterns — deliberately separate anchored
    * regexes (not one pattern with optional groups) so "no match"
    * uniformly yields '' in BOTH java.util.regex and RE2 engines.
    */
  private[graft] val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private[graft] val authRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private[graft] val pathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  // applied AFTER the fragment strips ([[fragmentRe]]): unanchored, a
  // '?' living INSIDE the fragment ('#/view?sid=1', the SPA-route
  // shape) would otherwise be extracted as the query string
  private[graft] val queryRe = "\\?([^#]*)"
  private[graft] val fragmentRe = "(?s)#.*$"
  // GREEDY to the LAST '@': RFC 3986 userinfo extends to the final '@'
  // of the authority (a password may itself contain '@'), and the lazy
  // form would leave 'x@host' as the host — the blocklist-evasion class
  // the trailing-dot strip closes. (?s) pins '.' to match line
  // terminators identically in java.util.regex and RE2.
  private[graft] val userinfoRe = "(?s)^.*@"
  // '[' opens a bracketed IPv6 authority, which the determinism tier
  // QUARANTINES rather than mis-parses: excluding '[' from the host
  // class makes the anchored capture match '' on '[::1]:8080', which
  // flows into the existing host='' -> NULL url_norm convention.
  private[graft] val hostRe = "^([^:\\[]*)"
  private[graft] val portRe = ":([0-9]+)$"
  // canonical FQDN form: 'example.com.' resolves identically to
  // 'example.com'; keeping the dot would let a frontier evade the
  // domain blocklist/caps by appending one
  private[graft] val trailingDotsRe = "\\.+$"

  /** Tracking-parameter kill list (anchored over one `k=v` param):
    * the analytics/click-id params that vary per visit without
    * changing the resource — utm_*, the ad click ids, mail-campaign
    * ids. Bounded by design; extending it is a one-line change
    * mirrored automatically into the oracle.
    *
    * Bare `ref`/`ref_src` are deliberately ABSENT: unlike the click
    * ids, `ref` is semantically load-bearing on major sites (a VCS
    * branch selector, a forum thread anchor) and killing it collapses
    * genuinely distinct resources — a site-specific list extends this
    * one rather than the default destroying content.
    */
  private[graft] val trackingRe =
    "^(?:utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|igshid|yclid|_hsenc|_hsmi)(?:=.*)?$"

  /** RFC 3986 §2.3 unreserved characters as (UPPERCASE hex octet →
    * decoded char): ALPHA / DIGIT / `-` `.` `_` `~`. Percent-encoding
    * these never changes meaning, so canonicalization DECODES them;
    * everything else (reserved delimiters, non-ASCII octets) keeps its
    * escape with the hex digits uppercased (§6.2.2.1). ONE table,
    * spliced into both engines' decoders.
    */
  private[graft] val pctUnreserved: Seq[(String, String)] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '.', '_', '~'))
      .map(c => (f"${c.toInt}%02X", c.toString))

  /** A valid two-hex-digit escape body (the two chars after a '%'). */
  private[graft] val pctHexRe = "^[0-9A-Fa-f]{2}"

  /** Percent-encoding canonicalization (RFC 3986 §6.2.2): decode
    * [[pctUnreserved]] escapes (`%7E`→`~`, `%41`→`A`), uppercase the
    * hex digits of every remaining valid escape (`%2f`→`%2F`), and
    * preserve malformed escapes (`%zz`, a trailing `%`) byte-for-byte.
    * Two encodings of one resource must not mint distinct `url_norm`s
    * and defeat the dedup tier — the same evasion class as the SPA
    * fragment and the FQDN trailing dot.
    *
    * Portable form (RE2 has no callbacks/lookbehind): rewrite `%` to a
    * U+0002 sentinel, split on it — every element after the first
    * BEGINS at an escape site — then one `transform` fixes each head
    * and a join reassembles. A pre-existing U+0002 in the value (never
    * legal in a URL) strips first, the [[graft.ops.TextOps.sentenceSplit]]
    * sentinel-collision convention. Map-only, no UDF.
    */
  private[graft] def pctCanon(c: Column): Column = {
    val marked = replace(replace(c, lit("\u0002"), lit("")), lit("%"), lit("\u0002"))
    val parts = split(marked, "\u0002", -1)
    val fixed = transform(slice(parts, lit(2), size(parts)), p => {
      val hex = upper(substring(p, 1, 2))
      val decoded = pctUnreserved.tail.foldLeft(
        when(hex === pctUnreserved.head._1, lit(pctUnreserved.head._2))) {
        case (w, (h, ch)) => w.when(hex === h, lit(ch))
      }.otherwise(concat(lit("%"), hex))
      when(p.rlike(pctHexRe), concat(decoded, p.substr(lit(3), length(p))))
        .otherwise(concat(lit("%"), p))
    })
    // fast path: a component with no '%' IS its canonical form — on a
    // real frontier that is the overwhelming majority of paths and
    // queries, and the split/transform machinery never runs for them.
    // Gated on U+0002 too: the slow path strips the sentinel byte
    // (never legal in a URL) before splitting, and the fast path must
    // apply the SAME convention or the two paths disagree on inputs
    // that carry a raw U+0002.
    when(!c.contains("%") && !c.contains("\u0002"), c)
      .otherwise(concat(element_at(parts, 1), array_join(fixed, "")))
  }

  /** Canonical URL form — the normalization every crawl pipeline runs
    * before URL-level dedup so trivially-different frontier entries
    * collapse:
    *
    *   - scheme and host lowercase; userinfo (`user:pw@`) strips
    *   - default ports strip (`:80` on http, `:443` on https);
    *     non-default ports survive (they address a different server)
    *   - trailing slashes strip from the path (`/a/` ≡ `/a`; the bare
    *     root `http://h/` ≡ `http://h`)
    *   - query params: empties drop, [[trackingRe]] params drop, the
    *     survivors SORT lexicographically and rejoin (param order is
    *     not semantic; sorting makes `?b=2&a=1` ≡ `?a=1&b=2`)
    *   - the fragment drops (never sent to the server)
    *
    *   - percent-encoding canonicalizes ([[pctCanon]]) in the path and
    *     query; `+` in the QUERY rewrites to `%20` first (both spell a
    *     space under form encoding; in the path `+` is a literal plus)
    *
    * A row whose value has no scheme or no host is not a fetchable
    * URL: `url_norm` is NULL (the quarantine convention — downstream
    * [[urlDedup]]/[[domainCaps]] skip it rather than guess).
    *
    * Map-only, no UDF: per-component `regexp_extract` + one sorted
    * list rebuild. Output: (<idCol>, <urlCol>, url_norm, host) — host
    * rides along (NULL on quarantined rows) so downstream domain
    * operators consume it instead of re-parsing url_norm.
    *
    * `extraKill` extends the static [[trackingRe]] list with REVIEWED
    * site-specific param keys (exact-match on the key, killed with
    * their values) — the consumption side of [[paramReport]]'s
    * discovery loop: evidence convicts a param, a human reviews, the
    * normalizer applies. Default empty = the static list alone.
    */
  def urlNormalize(docs: DataFrame, idCol: String = "doc_id",
                   urlCol: String = "url",
                   extraKill: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol), col(urlCol),
        graft.functions.UrlNormExprs.urlNormHost(col(urlCol), extraKill).as("__nh"))
      .select(col(idCol), col(urlCol),
        col("__nh").getField("url_norm").as("url_norm"),
        col("__nh").getField("host").as("host"))

  /** Exact URL dedup over [[urlNormalize]]'s output: the first id (by
    * value) per normalized URL keeps, the rest drop — the frontier
    * dedup that kills re-crawls before fetch/parse cost. Invalid rows
    * (NULL url_norm) are excluded (quarantine, not silently grouped).
    *
    * Plan shape: ONE window min over a url_norm-keyed shuffle (no
    * distinct + join re-read); at corpus scale the key is effectively
    * unique-ish so partitions stay balanced.
    *
    * Output: (<idCol>, url_norm, keep).
    */
  def urlDedup(normed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("url_norm")
    normed.filter(col("url_norm").isNotNull)
      .select(col(idCol), col("url_norm"),
        (col(idCol) === min(col(idCol)).over(w)).as("keep"))
  }

  /** Public-suffix-lite multi-label suffixes: the bounded table of
    * two-label suffixes under which the registrable domain is THREE
    * labels (the `Retention.defaultRules` broadcast-table pattern; a
    * full public-suffix list drops in the same shape). Everything else
    * registers at two labels.
    */
  private[graft] val multiSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "co.jp", "co.kr", "co.in", "co.nz",
    "com.au", "net.au", "com.br", "com.mx",
    "github.io")

  /** Registrable domain of a (lowercase) host — the per-site grouping
    * key for caps, blocklists, and provenance rollups: the last two
    * labels, or three when the last two are a [[multiSuffixes]] entry;
    * IPv4 literals and single-label hosts (intranet names) register as
    * themselves. Pure expression (regex last-k-labels extraction — no
    * split/element_at, so short hosts cannot index out of bounds).
    */
  def registeredDomain(rawHost: Column): Column = {
    // defensive trailing-dot strip: [[urlNormalize]] already
    // canonicalizes, but a raw host fed directly ('bad.co.uk.') must
    // not evade a blocklist/cap by the FQDN dot
    val host = regexp_replace(rawHost, trailingDotsRe, "")
    val last2 = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val last3 = regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    val isIp = host.rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")
    when(isIp, host)
      .when(last3 =!= "" && last2.isin(multiSuffixes: _*), last3)
      .when(last2 =!= "", last2)
      .otherwise(host)
  }

  /** The COMPLETE publicsuffix.org snapshot (~9.5k rules), shipped as
    * a classpath resource in the list's own file format and loaded
    * once per JVM by [[graft.functions.PslTable]]. The default rule
    * table for [[registeredDomainPsl]] and the backing table of
    * [[registeredDomainFull]].
    */
  def pslRulesFull: Seq[String] = graft.functions.PslTable.rules

  /** Registrable domain by the FULL public-suffix list as a map-only
    * native expression ([[graft.functions.PslDomainExpression]] over
    * the per-JVM static table): no join, no shuffle, whole-stage
    * codegen — the variant every domain-keyed consumer in this file
    * routes through. Semantics identical to [[registeredDomainPsl]]
    * with [[pslRulesFull]] (a property spec pins the two against each
    * other; the oracle-gated q285 pins both against DuckDB's replay of
    * the join algorithm).
    */
  def registeredDomainFull(host: Column): Column =
    graft.functions.PslDomain(host)

  /** A bounded representative EXCERPT of the publicsuffix.org list in
    * the list's own rule grammar (normal rules, `*.` wildcards, `!`
    * exceptions; ICANN + private-section entries) — kept as the
    * fixed-table spec fixture for [[parsePslRule]]/[[registeredDomainPsl]]
    * goldens. Production callers use [[pslRulesFull]] (the
    * [[registeredDomainPsl]] default); [[multiSuffixes]] (psl-lite)
    * stays the zero-dependency pure-expression fallback.
    */
  private[graft] val pslRules: Seq[String] = Seq(
    // generic TLDs (normal 1-label rules — same effect as the default)
    "com", "org", "net", "edu", "gov", "io", "dev",
    // ccTLDs with 2-label public suffixes
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "jp", "co.jp", "ne.jp", "or.jp", "ac.jp",
    "cn", "com.cn", "net.cn", "gov.cn", "org.cn", "edu.cn",
    "au", "com.au", "net.au", "org.au", "gov.au", "edu.au",
    "za", "co.za", "org.za", "gov.za", "ac.za",
    "kr", "co.kr", "in", "co.in", "nz", "co.nz",
    "br", "com.br", "mx", "com.mx",
    // wildcard rules: EVERY 2-label suffix under these is public
    "*.ck", "*.bd", "*.kawasaki.jp",
    // exception rules: carve-outs from the wildcards above
    "!www.ck", "!city.kawasaki.jp",
    // private-section entries (site platforms)
    "github.io", "blogspot.com", "pages.dev")

  /** One PSL rule → (match suffix, public-suffix label count when this
    * rule prevails, is-exception): `foo.bar` matches suffix `foo.bar`
    * with ps_len 2; `*.ck` matches suffix `ck` with ps_len 2 (the `*`
    * consumes one host label); `!www.ck` matches suffix `www.ck` with
    * ps_len 1 (the exception's own leftmost label is REGISTRABLE, so
    * the public suffix is one label shorter than the rule).
    */
  private[graft] def parsePslRule(r: String): (String, Int, Boolean) =
    if (r.startsWith("!")) {
      val s = r.substring(1); (s, s.split("\\.").length - 1, true)
    } else if (r.startsWith("*.")) {
      val s = r.substring(2); (s, s.split("\\.").length + 1, false)
    } else (r, r.split("\\.").length, false)

  /** Registrable domain by the FULL public-suffix algorithm
    * (publicsuffix.org/list/ semantics): among rules whose match
    * suffix equals a right-anchored label suffix of the host, an
    * exception prevails over everything, else the longest rule; no
    * match defaults to ps_len 1 (the list's implicit `*` rule). The
    * registrable domain is one label more than the prevailing public
    * suffix; a host that IS a public suffix — or a single label, or an
    * IPv4 literal — registers as itself ([[registeredDomain]]'s lite
    * convention, kept so the two variants disagree only where the
    * table knows better).
    *
    * Plan shape: map-only label explode (≤ label-count rows per host)
    * → BROADCAST join against the rule table → one id-keyed max +
    * map-side rebuild. No corpus-keyed shuffle beyond the id
    * aggregate; the rule table is registry-sized by contract.
    *
    * Output: (<idCol>, <hostCol>, reg_domain).
    */
  def registeredDomainPsl(hosts: DataFrame, hostCol: String = "host",
                          idCol: String = "doc_id",
                          rules: Seq[String] = pslRulesFull): DataFrame = {
    require(rules.nonEmpty, "registeredDomainPsl needs a non-empty rule table")
    val rulesDf = hosts.sparkSession
      .createDataFrame(rules.map(parsePslRule)).toDF("rsfx", "ps_len", "is_exc")
    val base = hosts.select(col(idCol), col(hostCol),
      regexp_replace(lower(col(hostCol)), trailingDotsRe, "").as("__h"))
      .withColumn("__labs", split(col("__h"), "\\."))
      .withColumn("__n", size(col("__labs")))
    val cand = base.select(col(idCol), col("__n"), col("__labs"),
      explode(sequence(lit(1), col("__n"))).as("__k"))
      .select(col(idCol), col("__n"),
        array_join(slice(col("__labs"), col("__n") - col("__k") + 1, col("__k")), ".")
          .as("__sfx"))
    // exception beats all, else longest: 1000+ps_len orders exceptions
    // above every normal rule (ps_len is label-bounded, far below 1000)
    val best = cand.join(broadcast(rulesDf),
        col("__sfx") === col("rsfx") && col("__n") >= col("ps_len"), "left")
      .groupBy(col(idCol))
      .agg(max(when(col("is_exc"), col("ps_len") + 1000).otherwise(col("ps_len"))).as("__mx"))
      .select(col(idCol),
        coalesce(when(col("__mx") >= 1000, col("__mx") - 1000).otherwise(col("__mx")), lit(1))
          .as("__ps"))
    val isIp = col("__h").rlike("^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$")
    base.join(best, Seq(idCol))
      .select(col(idCol), col(hostCol),
        when(isIp, col("__h"))
          .when(col("__n") > col("__ps"),
            array_join(slice(col("__labs"), col("__n") - col("__ps"), col("__ps") + 1), "."))
          .otherwise(col("__h")).as("reg_domain"))
  }

  /** Per-registered-domain document caps over [[urlNormalize]]'s
    * output: at most `cap` docs per registrable domain, selected in
    * the deterministic [[SampleOps.groupQuota]] hash order (same docs
    * on every run, layout, and engine) — the anti-monoculture rule
    * that stops one template farm from dominating a source mix.
    * Invalid rows (NULL url_norm) drop.
    *
    * Plan shape: map-only domain derivation + ONE window over a
    * domain-keyed shuffle. Output: (<idCol>, url_norm, reg_domain),
    * kept rows only.
    */
  def domainCaps(normed: DataFrame, cap: Int, idCol: String = "doc_id"): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val withDom = normed.filter(col("url_norm").isNotNull)
      .select(col(idCol), col("url_norm"), registeredDomainFull(col("host")).as("reg_domain"))
    SampleOps.groupQuota(withDom, "reg_domain", idCol, cap)
  }

  /** Domain-blocklist VERDICT over [[urlNormalize]]'s output: every
    * valid row gets its registrable domain and a `blocked` flag
    * against the (bounded, broadcast-literal) blocklist — emitted as a
    * verdict, not a silent filter, so a governance review can count
    * what a list change would kill before anything is destroyed (the
    * discovery-before-destruction discipline). Map-only; the caller
    * filters `!blocked` to apply.
    *
    * Output: (<idCol>, url_norm, reg_domain, blocked).
    */
  def domainBlocklist(normed: DataFrame, blocked: Seq[String],
                      idCol: String = "doc_id"): DataFrame = {
    require(blocked.nonEmpty, "domainBlocklist needs at least one blocked domain")
    normed.filter(col("url_norm").isNotNull)
      .select(col(idCol), col("url_norm"), registeredDomainFull(col("host")).as("reg_domain"))
      .withColumn("blocked", col("reg_domain").isin(blocked: _*))
  }

  /** A punycode (ACE) label anywhere in the host. */
  private[graft] val punycodeRe = "(^|\\.)xn--"

  /** Any non-ASCII character — a raw-Unicode (IDN) host. */
  private[graft] val nonAsciiRe = "[^\\x00-\\x7F]"

  /** Per-domain IDN exposure report — the determinism-tier answer to
    * punycode/Unicode host equivalence: the RFC 3492 codec is an
    * algorithm, not a portable column expression, so this tier cannot
    * FOLD `bücher.example` and `xn--bcher-kva.example` into one
    * `url_norm` — but it can tell a build exactly WHERE that
    * equivalence risk lives. Per registrable domain over
    * [[urlNormalize]]'s output: distinct host count, how many carry a
    * punycode (`xn--`) label, how many carry raw non-ASCII, and the
    * exposure flag. A domain with BOTH forms is the live risk: one
    * logical site minting two url_norm families. Verdict, not filter
    * (the [[domainBlocklist]] discipline) — nothing is destroyed.
    *
    * Plan shape: map + one distinct + one domain rollup; output is
    * domain-sized. Output: (reg_domain, n_hosts, n_punycode,
    * n_unicode, idn_present).
    */
  def idnReport(normed: DataFrame): DataFrame =
    normed.filter(col("url_norm").isNotNull)
      .select(registeredDomainFull(col("host")).as("reg_domain"), col("host"))
      .distinct()
      .groupBy("reg_domain")
      .agg(count(lit(1)).as("n_hosts"),
        sum(when(col("host").rlike(punycodeRe), 1L).otherwise(0L)).as("n_punycode"),
        sum(when(col("host").rlike(nonAsciiRe), 1L).otherwise(0L)).as("n_unicode"))
      .withColumn("idn_present", col("n_punycode") > 0 || col("n_unicode") > 0)

  /** [[idnReport]]'s CLOSURE: fold every host to its canonical
    * ASCII-compatible form ([[graft.functions.PunycodeFold]] — RFC
    * 3490/3492 via `java.net.IDN`) and report, per registrable domain
    * of the FOLDED host, how many raw spellings the fold would merge —
    * the verification that q282's flagged url_norm families really are
    * one logical site. Hosts the codec rejects fold to NULL and count
    * as `n_unfoldable` (quarantine, not guess). Verdict, not filter:
    * nothing is destroyed, a reviewer decides whether the frontier
    * adopts folded keys.
    *
    * SPEC-ONLY surface (the GraphiteSource precedent): the punycode
    * codec has no DuckDB-expressible oracle, so this report is pinned
    * by property goldens (fold idempotence, unicode↔punycode
    * equivalence, the fixture families merging) while q282 stays the
    * oracle-checked exposure report.
    *
    * Plan shape: map-only fold + one distinct + one domain rollup;
    * output is domain-sized. Output: (reg_domain, n_hosts,
    * n_hosts_folded, n_unfoldable, folded_merges, would_merge).
    */
  def idnReportFolded(normed: DataFrame): DataFrame =
    normed.filter(col("url_norm").isNotNull)
      .select(col("host"), graft.functions.PunycodeFold(col("host")).as("host_folded"))
      .distinct()
      .groupBy(registeredDomainFull(coalesce(col("host_folded"), col("host")))
        .as("reg_domain"))
      .agg(countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("host_folded")).as("n_hosts_folded"),
        sum(when(col("host_folded").isNull, 1L).otherwise(0L)).as("n_unfoldable"))
      .withColumn("folded_merges",
        col("n_hosts") - col("n_hosts_folded") - col("n_unfoldable"))
      .withColumn("would_merge", col("folded_merges") > 0)

  /** Per-domain query-parameter discovery report — the
    * discovery-before-destruction discipline applied to the
    * [[trackingRe]] kill list itself: the static list catches the
    * universal click-ids, but real frontiers carry SITE-SPECIFIC
    * session params (`sid`, `phpsessid`, per-visit cache busters) that
    * only evidence can convict. For every (registrable domain, param
    * key) over [[urlNormalize]]'s output, the report emits the
    * occurrence count, the distinct-VALUE count (a session id has ~one
    * value per visit; a pagination param has a handful), and the
    * dup-rate impact of dropping the key: how many distinct normalized
    * URLs would collapse if this param were killed. A reviewer extends
    * the kill list from these rows; nothing is destroyed here.
    *
    * Collapse counts BOTH collision classes: carriers collapsing into
    * each other (distinct dropped-variant forms < distinct carrier
    * URLs) AND carriers collapsing into URLs that never carried the
    * key (`n_wo_existing`: dropped-variant forms that already exist in
    * the domain's full URL set) — without the second term a partially-
    * present session param understates its own evidence.
    *
    * Plan shape: map-only param explode (params-per-URL rows) + ONE
    * (domain, key) partial-aggregable rollup; the dropped-variant URL
    * is rebuilt per row from the already-split param list (no second
    * parse); the existing-URL probe is one semi-join of the distinct
    * dropped-variant set against the domain's distinct URLs (both
    * sides keyed (domain, url) — high-cardinality, no skew pole).
    * Output is (domain × key)-sized.
    *
    * Output: (reg_domain, param_key, n_occurrences, n_values, n_urls,
    * n_urls_wo, n_wo_existing, collapse_rate 4dp) where collapse_rate
    * = 1 − (n_urls_wo − n_wo_existing) / n_urls.
    */
  def paramReport(normed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val pkeyOf = (p: Column) => regexp_extract(p, "^([^=]*)", 1)
    val valid = normed.filter(col("url_norm").isNotNull)
      .select(registeredDomainFull(col("host")).as("reg_domain"), col("url_norm"))
    val base = valid.filter(col("url_norm").contains("?"))
      .select(col("reg_domain"), col("url_norm"),
        regexp_replace(col("url_norm"), "(?s)\\?.*$", "").as("base"),
        split(regexp_extract(col("url_norm"), queryRe, 1), "&", -1).as("params"))
    val kv = base.select(col("reg_domain"), col("url_norm"), col("base"), col("params"),
        explode(col("params")).as("p"))
      .select(col("reg_domain"), col("url_norm"), col("base"), col("params"),
        pkeyOf(col("p")).as("pkey"),
        regexp_extract(col("p"), "(?s)^[^=]*=(.*)$", 1).as("pval"))
      .withColumn("kept", filter(col("params"), p => pkeyOf(p) =!= col("pkey")))
      .withColumn("url_wo", concat(col("base"),
        when(size(col("kept")) > 0, concat(lit("?"), array_join(col("kept"), "&")))
          .otherwise(lit(""))))
    // a dropped-variant form that IS an existing URL of the domain
    // (necessarily a non-carrier: a carrier's url_norm still contains
    // the key) merges rather than merely collapsing within carriers
    val woHits = kv.select(col("reg_domain"), col("pkey"), col("url_wo")).distinct()
      .join(valid.distinct().withColumnRenamed("url_norm", "url_wo"),
        Seq("reg_domain", "url_wo"), "left_semi")
      .groupBy(col("reg_domain"), col("pkey"))
      .agg(count(lit(1)).as("n_wo_existing"))
    kv.groupBy(col("reg_domain"), col("pkey"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("pval")).as("n_values"),
        countDistinct(col("url_norm")).as("n_urls"),
        countDistinct(col("url_wo")).as("n_urls_wo"))
      .join(woHits, Seq("reg_domain", "pkey"), "left")
      .select(col("reg_domain"), col("pkey").as("param_key"), col("n_occurrences"),
        col("n_values"), col("n_urls"), col("n_urls_wo"),
        coalesce(col("n_wo_existing"), lit(0L)).as("n_wo_existing"),
        round(lit(1.0) - (col("n_urls_wo") - coalesce(col("n_wo_existing"), lit(0L)))
          / col("n_urls").cast("double"), 4).as("collapse_rate"))
  }

  /** Frontier observability per registrable domain — the number a
    * crawl pipeline watches daily (the extractionYield discipline one
    * stage earlier): how much of each domain's frontier is duplicate
    * mass. A domain whose dup_rate spikes changed its URL scheme
    * (session ids, mirrored paths) and is about to waste fetch/parse
    * budget. One partial-aggregable domain rollup; output is
    * domain-sized.
    *
    * Output: (reg_domain, n_urls, n_unique, dup_rate 4dp).
    */
  def frontierReport(normed: DataFrame, idCol: String = "doc_id"): DataFrame =
    normed.filter(col("url_norm").isNotNull)
      .select(registeredDomainFull(col("host")).as("reg_domain"), col("url_norm"))
      .groupBy("reg_domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("url_norm")).as("n_unique"))
      .select(col("reg_domain"), col("n_urls"), col("n_unique"),
        round(lit(1.0) - col("n_unique") / col("n_urls").cast("double"), 4).as("dup_rate"))

  // ---------------------------------------------------------------------------
  // Link tier: <a href> extraction + RFC 3986 §5 reference resolution.
  // The out-link graph is how a crawl DISCOVERS its next frontier and
  // how curation gets an authority signal — the stage between HTML
  // arrival and the URL tier above. Everything is a native column
  // expression (regexp_extract_all + one `aggregate` fold), mirrored
  // verbatim in the DuckDB oracle.
  // ---------------------------------------------------------------------------

  /** `<a ... href="...">` values, double-/single-quoted. Two separate
    * patterns (the [[schemeRe]] discipline: no optional groups, so
    * java.util.regex and RE2 agree on no-match). Unquoted attribute
    * values and non-`<a>` link carriers (link/script/img) are out of
    * scope by contract — this tier feeds the crawl frontier, and
    * `<a href>` is where nav/content links live.
    */
  private[graft] val hrefDqRe = "(?i)<a\\s[^>]*?href\\s*=\\s*\"([^\"]*)\""
  private[graft] val hrefSqRe = "(?i)<a\\s[^>]*?href\\s*=\\s*'([^']*)'"

  /** A reference that carries its own scheme (RFC 3986 §4.1 absolute
    * or scheme-relative opaque form — mailto:, javascript:, http:g). */
  private[graft] val absRefRe = "^[A-Za-z][A-Za-z0-9+.-]*:"

  /** Query-part split of a reference, fragment already stripped. */
  private[graft] val refQueryStripRe = "(?s)\\?.*$"
  private[graft] val refQueryRe = "(?s)(\\?.*)$"

  /** §5.2.4's trailing-directory rule trigger: last segment '.'/'..'. */
  private[graft] val dotTailRe = "(^|/)\\.\\.?$"

  /** The web frontier's scheme gate after resolution. */
  private[graft] val webSchemeRe = "^https?://"

  /** RFC 3986 §5.2.4 remove_dot_segments over a path column that
    * starts with '/' (or is relative — the leading '/' is re-added by
    * the fold). One `aggregate` fold with a string accumulator —
    * identical in DuckDB as a `list_reduce` — plus the trailing-slash
    * rule: a path whose last segment is '.' or '..' resolves to a
    * directory ('/b/c/.' → '/b/c/'), exactly the §5.4 expected
    * outputs. '..' above root is dropped (§5.2.4 point 2C); interior
    * empty segments ('a//b') are preserved as-is.
    */
  private[graft] def removeDotSegments(p: Column): Column = {
    val folded = aggregate(
      split(regexp_replace(p, "^/", ""), "/"),
      lit(""),
      (acc, x) => when(x === ".", acc)
        .when(x === "..", regexp_replace(acc, "/[^/]*$", ""))
        .otherwise(concat(acc, lit("/"), x)))
    when(p.rlike(dotTailRe), concat(folded, lit("/"))).otherwise(folded)
  }

  /** The host of an absolute URL, by the [[urlNormalize]] chain:
    * authority → userinfo strip → port strip → lowercase → trailing
    * dots strip. '' when the URL has no `scheme://` form.
    */
  private[graft] def hostOf(url: Column): Column =
    graft.functions.UrlNormExprs.hostOf(url)

  /** RFC 3986 §5.2 reference resolution: the absolute URL a reference
    * found on page `base` points at. `base` must be a normalized
    * absolute URL ([[urlNormalize]]'s url_norm — the pipeline seat
    * guarantees it); a base without `scheme://` yields NULL (the
    * quarantine convention). Fragments are dropped from the reference
    * first — the engine-wide url_norm contract ('#s' resolves to the
    * base itself, where RFC 3986 §5.4 would keep the fragment).
    * Branches, in order: empty → base; has scheme → as-is (this is
    * what keeps mailto:/javascript: out of the web frontier — see
    * [[extractLinks]]' is_web flag); '//' → base scheme; '?' → base
    * path + new query; '/' → origin + remove_dot_segments; else →
    * §5.2.3 merge with the base directory, then remove_dot_segments.
    * Verified against the complete §5.4 normal + abnormal example
    * tables in `UrlOpsSpec`.
    */
  def resolveRef(base: Column, ref: Column): Column =
    graft.functions.UrlNormExprs.resolveRef(base, ref)

  /** RFC 9309 (robots.txt) rule pattern → anchored regex, evaluated
    * identically by java.util.regex and RE2: '*' matches any octet
    * run, a trailing '$' anchors the end, every other regex special
    * is escaped to its literal self. Pure driver-side conversion —
    * the SAME converted regex is spliced into the broadcast rule
    * table and the oracle VALUES, so the engines cannot drift on
    * pattern semantics.
    */
  private[graft] def robotsPatternRegex(p: String): String = {
    val endsAnchor = p.endsWith("$")
    val body = if (endsAnchor) p.dropRight(1) else p
    val sb = new StringBuilder("^")
    body.foreach {
      case '*' => sb.append(".*")
      case c if "\\.[]{}()+?^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    if (endsAnchor) sb.append('$')
    sb.toString
  }

  /** The rule-match target per RFC 9309 §2.2.2: path + optional query
    * of the normalized URL ('' → '/'). */
  private[graft] val pathQueryRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$"

  /** RFC 9309 robots-exclusion VERDICT over [[urlNormalize]]'s
    * output: every valid frontier row gets its registrable domain, the
    * most specific matching rule from that domain's (bounded,
    * broadcast) rule set, and the `allowed` flag — longest-pattern
    * wins (§2.2.2's octet-length specificity), an allow beats a
    * disallow at equal length (least-restrictive tie-break), no match
    * defaults to allowed. Verdict, not silent filter (the
    * [[domainBlocklist]] discipline): a compliance review counts what
    * a rules change would kill before any fetch is suppressed.
    *
    * `rules` rows are (registrable domain, isAllow, rule pattern) in
    * the robots.txt path-pattern grammar ('*' wildcard, '$' anchor);
    * patterns must be non-empty (an empty Disallow line means
    * allow-all in the file grammar — express that by omitting rules).
    *
    * Plan shape: map-only domain/path derivation + ONE broadcast
    * regex join (rule sets are robots-file-sized) + one id-keyed
    * max aggregate. The specificity contest rides a single sortable
    * string key (zero-padded length ‖ allow bit ‖ pattern), so the
    * winner is engine-independent and order-free.
    *
    * Output: (<idCol>, url_norm, reg_domain, rule, allowed) — `rule`
    * NULL when no rule matched.
    */
  def robotsVerdict(normed: DataFrame, rules: Seq[(String, Boolean, String)],
                    idCol: String = "doc_id"): DataFrame = {
    require(rules.nonEmpty, "robotsVerdict needs at least one rule")
    require(rules.forall(_._3.nonEmpty),
      "empty robots patterns are allow-all: express them by omitting rules")
    val spark = normed.sparkSession
    import spark.implicits._
    val ruleDf = broadcast(rules.map { case (d, allow, pat) =>
      (d, allow, pat, robotsPatternRegex(pat), pat.length) }
      .toDF("rb_domain", "rb_allow", "rb_pattern", "rb_regex", "rb_len"))
    val pq = regexp_extract(col("url_norm"), pathQueryRe, 1)
    val base = normed.filter(col("url_norm").isNotNull)
      .select(col(idCol), col("url_norm"),
        registeredDomainFull(col("host")).as("reg_domain"),
        when(pq === "", lit("/")).otherwise(pq).as("__pq"))
    val key = concat(lpad(col("rb_len").cast("string"), 4, "0"),
      when(col("rb_allow"), lit("1")).otherwise(lit("0")), col("rb_pattern"))
    base.join(ruleDf,
        col("reg_domain") === col("rb_domain") && regexp_like(col("__pq"), col("rb_regex")),
        "left")
      .groupBy(col(idCol), col("url_norm"), col("reg_domain"))
      .agg(max(key).as("__k"))
      .select(col(idCol), col("url_norm"), col("reg_domain"),
        substring(col("__k"), 6, 1000000).as("rule"),
        coalesce(substring(col("__k"), 5, 1) === "1", lit(true)).as("allowed"))
  }

  /** Out-link extraction over `(idCol, baseCol, htmlCol)` rows: every
    * `<a href>` occurrence (duplicates kept — occurrence count IS the
    * edge weight upstream of [[graft.ops.GraphOps.pageRank]]) becomes
    * one row with its RFC 3986-resolved absolute form and an `is_web`
    * flag (http/https after resolution; mailto:/javascript:/data:
    * survive as rows — verdict, not silent filter — but flag false).
    * Map-only: one explode over the regex matches, no shuffle; the
    * downstream edge rollup is the tier's only exchange.
    *
    * Output: (<idCol>, <baseCol>, href, link, is_web).
    */
  def extractLinks(docs: DataFrame, htmlCol: String = "html",
                   baseCol: String = "url_norm", idCol: String = "doc_id"): DataFrame = {
    val hrefs = concat(
      regexp_extract_all(col(htmlCol), lit(hrefDqRe), lit(1)),
      regexp_extract_all(col(htmlCol), lit(hrefSqRe), lit(1)))
    docs.select(col(idCol), col(baseCol), explode(hrefs).as("href"))
      .withColumn("link", resolveRef(col(baseCol), col("href")))
      .withColumn("is_web", coalesce(col("link").rlike(webSchemeRe), lit(false)))
      .select(col(idCol), col(baseCol), col("href"), col("link"), col("is_web"))
  }

  /** [[hrefDqRe]]/[[hrefSqRe]] extended through the tag close to the
    * anchor TEXT (group 2): the visible text up to the first '<' —
    * nested markup inside the anchor truncates there, by contract
    * (the text before an inline tag is what this tier indexes).
    */
  private[graft] val anchorDqRe = "(?i)<a\\s[^>]*?href\\s*=\\s*\"([^\"]*)\"[^>]*>([^<]*)"
  private[graft] val anchorSqRe = "(?i)<a\\s[^>]*?href\\s*=\\s*'([^']*)'[^>]*>([^<]*)"

  /** In-link anchor-TEXT index per target registrable domain — the
    * classic off-page description signal: what OTHER pages' link text
    * says a destination is. Every `<a href>text` occurrence resolves
    * ([[resolveRef]]), non-web targets drop, the anchor text
    * tokenizes with the engine-wide tokenizer, and one
    * (dst_domain, term) rollup counts total references and DISTINCT
    * SOURCE domains — the independent-endorsement count that
    * separates site-wide nav text from genuine cross-site
    * description.
    *
    * Plan shape: map-only extract/resolve/tokenize explodes + ONE
    * partial-aggregable (dst_domain, term) rollup (countDistinct on
    * src_domain rides the same exchange). Output is
    * (domain × vocabulary)-sized.
    *
    * Output: (dst_domain, term, n_refs, n_src_domains).
    */
  def anchorTextIndex(docs: DataFrame, htmlCol: String = "html",
                      baseCol: String = "url_norm", idCol: String = "doc_id"): DataFrame = {
    val ms = concat(
      regexp_extract_all(col(htmlCol), lit(anchorDqRe), lit(0)),
      regexp_extract_all(col(htmlCol), lit(anchorSqRe), lit(0)))
    val isDq = col("m").rlike(anchorDqRe)
    def grp(i: Int): Column =
      when(isDq, regexp_extract(col("m"), anchorDqRe, i))
        .otherwise(regexp_extract(col("m"), anchorSqRe, i))
    docs.select(col(idCol), col(baseCol), explode(ms).as("m"))
      .select(col(idCol), col(baseCol), grp(1).as("href"), grp(2).as("atext"))
      .withColumn("link", resolveRef(col(baseCol), col("href")))
      .filter(coalesce(col("link").rlike(webSchemeRe), lit(false)))
      .select(registeredDomainFull(hostOf(col("link"))).as("dst_domain"),
        registeredDomainFull(hostOf(col(baseCol))).as("src_domain"),
        explode(graft.ops.TextOps.tokens(col("atext"))).as("term"))
      .groupBy("dst_domain", "term")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("src_domain")).as("n_src_domains"))
  }
}
