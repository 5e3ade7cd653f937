package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, quality scoring, token counting
  * and document fingerprinting. All are map-only column expressions
  * (no shuffle, codegen-friendly) so they scale linearly with input
  * and stay inside whole-stage codegen at 100 TB.
  */
object TextOps {

  /** Lower-cased word tokens (runs of [a-z0-9_']), empty tokens dropped.
    * One native byte walk after `lower` (r14: replaces
    * `filter(split(lower(text), "[^a-z0-9_']+"), t => length(t) > 0)` —
    * a regex split plus an interpreted HOF filter per row — with
    * [[graft.functions.NormTextExprs.tokens]]; NormTextSpec pins the
    * two equal over random UTF-8 including the case-fold edge points).
    */
  def tokens(text: Column): Column =
    graft.functions.NormTextExprs.tokens(text)

  /** HTML/boilerplate text extraction — the FIRST stage of a raw-web
    * pipeline: every text operator downstream consumes clean `text`,
    * but real corpora arrive as markup. A deterministic regex-chain
    * extraction (the q89 redaction discipline — no parser library, so
    * any engine replays it byte-for-byte):
    *   1. `<script>`/`<style>` blocks drop whole (content and all) —
    *      FIRST, so code like `if (x < 2)` can't confuse tag stripping;
    *   2. `<!-- comments -->` drop;
    *   3. BLOCK-level tags become newlines — the line structure the
    *      boilerplate filter needs;
    *   4. every remaining tag becomes a space — tag bodies are
    *      QUOTE-AWARE ([[tagBody]]): an attribute value containing '>'
    *      (`<a title="a>b">`) strips whole instead of truncating at
    *      the quoted '>';
    *   5. entities decode: the named ubiquitous four, then the bounded
    *      numeric table ([[numericEntities]], dec + hex, leading
    *      zeros, case-insensitive hex), then the `&`-family
    *      (`&amp;`/`&#38;`/`&#x26;`) LAST in ONE single-pass regex so
    *      double-encoded text cannot re-introduce strippable markup or
    *      double-decode (and decoding AFTER step 4 keeps `&lt;div&gt;`
    *      as visible text rather than a tag);
    *   6. per line: whitespace collapses + trims, and the
    *      boilerplate-DENSITY filter keeps only lines carrying at
    *      least `minLineTokens` whitespace tokens — nav bars, footers,
    *      bare headings and button labels are short, body prose is not
    *      (the determinism-tier reduction of trafilatura/jusText-style
    *      density rules).
    *
    * Map-only, one pass, no UDF, no shuffle — the regex chain is
    * per-row codegen work and the line HOFs are linear in line count
    * (HOFs sit outside whole-stage codegen, the documented trade), so
    * the stage scales exactly like the scan that feeds it.
    *
    * Output: (<idCol>, text, n_lines, n_chars) — `text` is the kept
    * lines joined with newlines, '' when nothing survives the filter.
    */
  def htmlExtract(docs: DataFrame, idCol: String = "doc_id", htmlCol: String = "html",
                  minLineTokens: Int = 4): DataFrame = {
    require(minLineTokens >= 1, s"minLineTokens must be >= 1: $minLineTokens")
    val kept = htmlKeptLines(htmlLines(col(htmlCol)), minLineTokens)
    docs.select(col(idCol), kept.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("text"),
        size(col("__kept")).cast("long").as("n_lines"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Quote-aware tag-body pattern: attribute values may contain '>'
    * inside quotes, so a tag runs to the first '>' OUTSIDE any quoted
    * value. Quoted spans are additionally forbidden to cross '<':
    * with an UNTERMINATED attribute quote (routine in raw crawls) an
    * unbounded span would swallow whole paragraphs of visible text
    * into one "tag" — bounding at '<' makes the malformed tag merely
    * LEAK as text (the conservative failure) instead of deleting
    * content, at the cost of not stripping the rare legal `<` inside
    * a quoted attribute. Works identically under java.util.regex and
    * RE2 (no backrefs) — the oracle chain embeds the same pattern.
    */
  private[graft] val tagBody = "(?:[^>\"']|\"[^\"<]*\"|'[^'<]*')*"

  /** The bounded numeric-entity table: (pattern, replacement) pairs
    * covering the characters web text actually carries as numeric
    * entities (quotes, angle brackets, nbsp, en/em dash, curly quotes,
    * ellipsis) — each pattern unifies the decimal and hex forms with
    * optional leading zeros, case-insensitive. `&#38;`/`&#x26;`
    * (ampersand) is deliberately ABSENT here: it decodes last together
    * with `&amp;` in one single-pass regex (see [[htmlLines]]).
    */
  private[graft] val numericEntities: Seq[(String, String)] = Seq(
    "(?i)&#(?:0*34|x0*22);" -> "\"",
    "(?i)&#(?:0*39|x0*27);" -> "'",
    "(?i)&#(?:0*60|x0*3c);" -> "<",
    "(?i)&#(?:0*62|x0*3e);" -> ">",
    "(?i)&#(?:0*160|x0*a0);" -> " ",
    "(?i)&#(?:0*8211|x0*2013);" -> "–",
    "(?i)&#(?:0*8212|x0*2014);" -> "—",
    "(?i)&#(?:0*8216|x0*2018);" -> "‘",
    "(?i)&#(?:0*8217|x0*2019);" -> "’",
    "(?i)&#(?:0*8220|x0*201c);" -> "“",
    "(?i)&#(?:0*8221|x0*201d);" -> "”",
    "(?i)&#(?:0*8230|x0*2026);" -> "…")

  /** Steps 1–6 of the [[htmlExtract]] chain up to the NONEMPTY
    * collapsed/trimmed line array (pre-density-filter) — shared by the
    * extractor and the [[extractionYield]] funnel so the two cannot
    * disagree about what a "line" is.
    */
  private[graft] def htmlLines(html: Column): Column =
    graft.functions.HtmlTextExprs.htmlLines(html)

  /** The boilerplate-DENSITY filter over [[htmlLines]]' output. */
  private def htmlKeptLines(lines: Column, minLineTokens: Int): Column =
    filter(lines, l => size(split(l, " ")) >= lit(minLineTokens))

  /** Extraction-funnel observability per source — the number a raw-web
    * build watches daily: how much of each source's markup survives
    * extraction. A source whose kept_rate or yield_ratio collapses
    * changed its template (or started serving interstitials) and needs
    * its extraction rules re-checked — the q254 drift discipline
    * applied to the extraction stage.
    *
    * Plan shape: one map-only pass computing per-doc line/char counts
    * (the SAME [[htmlLines]]/[[htmlKeptLines]] expressions the
    * extractor runs — the funnel cannot disagree with the extraction
    * it audits), then one partial-aggregable source rollup. Output is
    * source-sized.
    *
    * Output: (source, n_docs, lines_total, lines_kept, kept_rate 4dp,
    * chars_html, chars_text, yield_ratio 4dp).
    */
  def extractionYield(docs: DataFrame, srcCol: String = "source",
                      htmlCol: String = "html", minLineTokens: Int = 4): DataFrame = {
    require(minLineTokens >= 1, s"minLineTokens must be >= 1: $minLineTokens")
    val lines = htmlLines(col(htmlCol))
    docs.select(col(srcCol), length(col(htmlCol)).cast("long").as("__ch"),
        lines.as("__l"))
      .select(col(srcCol), col("__ch"),
        size(col("__l")).cast("long").as("__lt"),
        htmlKeptLines(col("__l"), minLineTokens).as("__k"))
      .select(col(srcCol), col("__ch"), col("__lt"),
        size(col("__k")).cast("long").as("__lk"),
        length(array_join(col("__k"), "\n")).cast("long").as("__ct"))
      .groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"), sum("__lt").as("lines_total"),
        sum("__lk").as("lines_kept"), sum("__ch").as("chars_html"),
        sum("__ct").as("chars_text"))
      .select(col(srcCol), col("n_docs"), col("lines_total"), col("lines_kept"),
        round(when(col("lines_total") > 0,
          col("lines_kept") / col("lines_total").cast("double")).otherwise(0.0), 4)
          .as("kept_rate"),
        col("chars_html"), col("chars_text"),
        round(when(col("chars_html") > 0,
          col("chars_text") / col("chars_html").cast("double")).otherwise(0.0), 4)
          .as("yield_ratio"))
  }

  /** Cross-document boilerplate-line DISCOVERY: lines appearing in at
    * least `minDf` distinct documents of a (multi-line) clean-text
    * corpus — the template/nav/footer sentences a site stamps on every
    * page, which survive a per-line density filter (they can be long)
    * and which q118's removal rule then needs as its hit list. The
    * discovery half of the CCNet/RefinedWeb line-dedup rule: run this
    * to SEE the boilerplate before deciding the removal threshold.
    *
    * Plan shape: explode lines, ONE (line)-keyed aggregate with a
    * distinct-doc count, filter df ≥ minDf — output is offender-sized.
    * The shuffle key is the line text itself; at corpus scale key on
    * a line hash and recover one exemplar text via max (same rollup,
    * smaller exchange) — the report tier here keeps the text key so
    * the output IS the hit list.
    *
    * Output: (line, df, doc_share 4dp), df = distinct docs containing
    * the line.
    */
  def boilerplateLines(docs: DataFrame, minDf: Int = 2, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (df 1 is just content): $minDf")
    val n = docs.agg(countDistinct(col(idCol)).as("__n"))
    docs.select(col(idCol).as("__id"), explode(split(col(textCol), "\n", -1)).as("line"))
      .filter(col("line") =!= "")
      .groupBy("line").agg(countDistinct(col("__id")).as("df"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(n))
      .select(col("line"), col("df"),
        round(col("df") / col("__n").cast("double"), 4).as("doc_share"))
  }

  /** What bytes 0x80–0xBF look like after a UTF-8 file is mis-decoded:
    * the WHATWG windows-1252 "high" characters (€‚ƒ…–—™œ…, with the
    * five unmapped bytes passing through as C1 controls, the lenient-
    * decoder behavior), the strict-latin1 C1 controls, and the
    * U+00A0–U+00BF block. This is the TAIL character class of a
    * mojibake pair: a UTF-8 lead byte mis-decoded as Ã/Â/â followed by
    * one of these is essentially never legitimate text.
    */
  private[graft] val mojibakeTail: String =
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014\u02dc\u2122\u0161\u203a\u0153\u017e\u0178" +
      "\u0080\u0081\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008a\u008b\u008c\u008d\u008e\u008f\u0090\u0091\u0092\u0093\u0094\u0095\u0096\u0097\u0098\u0099\u009a\u009b\u009c\u009d\u009e\u009f" +
      "\u00a0\u00a1\u00a2\u00a3\u00a4\u00a5\u00a6\u00a7\u00a8\u00a9\u00aa\u00ab\u00ac\u00ad\u00ae\u00af\u00b0\u00b1\u00b2\u00b3\u00b4\u00b5\u00b6\u00b7\u00b8\u00b9\u00ba\u00bb\u00bc\u00bd\u00be\u00bf"

  /** Mojibake detector regex — UTF-8 read as cp1252/latin-1:
    * three-byte sequences (the General Punctuation block: curly
    * quotes, dashes, ellipsis) present as `â` + (`€` cp1252 / U+0080
    * strict-latin1) + one more byte; two-byte Latin-1 Supplement
    * characters present as `Ã`/`Â` + a [[mojibakeTail]] character.
    * The two alternatives start with DISJOINT characters, so the
    * non-overlapping match count is identical under java.util.regex
    * and RE2 regardless of alternation semantics. The trigram tail is
    * `[^\n]`, NOT `.`: character classes have identical semantics in
    * both engines, while `.` excludes \r/U+0085/U+2028/U+2029 only
    * under java.util.regex \u2014 damaged text whose third byte is one of
    * those would count in the oracle but not in Spark.
    */
  private[graft] val mojibakeDetector: String =
    "\u00e2[\u0080\u20ac][^\n]|[\u00c3\u00c2][" + mojibakeTail + "]"

  /** Bounded mojibake REPAIR table (cp1252/WHATWG presentation, the
    * dominant real-world damage: a UTF-8 file read as windows-1252):
    * curly quotes/dashes/ellipsis trigrams, the common accented-Latin
    * pairs, and the Â-prefixed punctuation. `Â +NBSP` repairs to a
    * plain space (matching [[htmlLines]]' `&nbsp;` choice). Literal
    * `replace` pairs — no regex — so both engines replay the chain
    * byte-for-byte. Double-encoded damage (mojibake of mojibake) is
    * out of scope: one pass repairs one layer.
    */
  private[graft] val mojibakeRepairs: Seq[(String, String)] = Seq(
    "\u00e2\u20ac\u2122" -> "\u2019", // rsquo
    "\u00e2\u20ac\u02dc" -> "\u2018", // lsquo
    "\u00e2\u20ac\u0153" -> "\u201c", // ldquo
    "\u00e2\u20ac\u009d" -> "\u201d", // rdquo (9D passes through as U+009D)
    "\u00e2\u20ac\u201c" -> "\u2013", // ndash
    "\u00e2\u20ac\u201d" -> "\u2014", // mdash
    "\u00e2\u20ac\u00a6" -> "\u2026", // hellip
    "\u00c3\u00a9" -> "\u00e9", // e-acute
    "\u00c3\u00a8" -> "\u00e8", // e-grave
    "\u00c3\u00bc" -> "\u00fc", // u-uml
    "\u00c3\u00b1" -> "\u00f1", // n-tilde
    "\u00c3\u00a7" -> "\u00e7", // c-cedilla
    "\u00c3\u00a4" -> "\u00e4", // a-uml
    "\u00c3\u00b6" -> "\u00f6", // o-uml
    "\u00c3\u00a1" -> "\u00e1", // a-acute
    "\u00c3\u00ad" -> "\u00ed", // i-acute (tail is U+00AD soft hyphen)
    "\u00c3\u00b3" -> "\u00f3", // o-acute
    "\u00c3\u00ba" -> "\u00fa", // u-acute
    "\u00c3\u00af" -> "\u00ef", // i-uml
    "\u00c3\u00a0" -> "\u00e0", // a-grave (tail is NBSP)
    "\u00c2\u00a0" -> " ", // NBSP -> plain space (htmlLines' nbsp choice)
    "\u00c2\u00a9" -> "\u00a9", // copyright
    "\u00c2\u00ae" -> "\u00ae", // registered
    "\u00c2\u00ab" -> "\u00ab", // laquo
    "\u00c2\u00bb" -> "\u00bb") // raquo

  /** Encoding-damage (mojibake) detector + repair — the quality signal
    * the raw-web first mile is otherwise blind to: UTF-8 text that was
    * read as Latin-1/cp1252 somewhere upstream ("â€™"-class sequences)
    * sails through length/stopword/alpha gates while being visibly
    * broken. Emits the per-doc damage count (a quality FEATURE to sit
    * beside q26's score), the boolean verdict, and a bounded one-pass
    * repair ([[mojibakeRepairs]]).
    *
    * Map-only, no UDF, no shuffle: one `regexp_count` over the
    * [[mojibakeDetector]] class plus a literal replace chain — scales
    * exactly like the scan. Null text → (0, false, NULL), so the
    * operator composes over un-filtered corpora.
    *
    * Output: (<idCol>, mojibake_hits, damaged, text_repaired).
    */
  def encodingDamage(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val hits = coalesce(regexp_count(col(textCol), lit(mojibakeDetector)), lit(0))
      .cast("long")
    val repaired = mojibakeRepairs.foldLeft(col(textCol)) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    docs.select(col(idCol), hits.as("mojibake_hits"),
      (hits >= 1).as("damaged"), repaired.as("text_repaired"))
  }

  /** Word-blocklist gate — the C4 "bad words" rule generalized to the
    * RefinedWeb ratio form: per document, count tokens whose
    * normalized form is on the (bounded) blocklist and gate on the
    * blocklist MASS. `maxRatio = 0.0` is C4's zero-tolerance (any hit
    * drops); positive ratios admit incidental mentions while dropping
    * documents that are ABOUT the blocked vocabulary — the form a
    * production filter actually ships, because zero-tolerance on a
    * web corpus deletes medical and news text wholesale.
    *
    * The list rides as a broadcast-free literal membership test
    * (registry-sized lists codegen into a hash probe); at
    * thousand-word lexicons switch to a broadcast table join — the
    * `Retention.defaultRules` pattern. Map-only, one token walk per
    * document; zero-token docs keep (no evidence).
    *
    * Output: (<idCol>, n_tokens, blocked_hits, blocked_ratio 4dp,
    * keep).
    */
  def wordBlocklistGate(docs: org.apache.spark.sql.DataFrame, blocked: Seq[String],
                        maxRatio: Double = 0.0, idCol: String = "doc_id",
                        textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(blocked.nonEmpty, "wordBlocklistGate needs at least one blocked word")
    val toks = tokens(col(textCol))
    val n = coalesce(size(toks), lit(0)).cast("long")
    val hits = coalesce(size(filter(toks, t => t.isin(blocked.map(_.toLowerCase): _*))),
      lit(0)).cast("long")
    docs.select(col(idCol), n.as("n_tokens"), hits.as("blocked_hits"),
      round(when(n > 0, hits / n.cast("double")).otherwise(0.0), 4).as("blocked_ratio"))
      .withColumn("keep", col("blocked_ratio") <= maxRatio)
  }

  /** Bounded abbreviation table for [[sentenceSplit]]'s guard: the
    * title/latin forms whose trailing period is NOT a sentence
    * boundary even before whitespace ("Dr. Smith", "e.g. this",
    * "See Fig. 2"). Bounded by design (the mojibakeRepairs pattern —
    * a learned Punkt model is out of the determinism tier); extending
    * it is a one-line change mirrored automatically into the oracle.
    * Matching is case-exact and word-anchored (start-of-text or
    * whitespace before), so "laundr." cannot false-protect.
    */
  private[graft] val abbreviations: Seq[String] = Seq(
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "Jr", "Sr", "Rev", "Gen",
    "vs", "Fig", "e.g", "i.e", "et al", "cf")

  /** The guard pattern over one abbreviation-final period — longest
    * alternative first so prefixes ("Mr" under "Mrs") can never
    * shadow; engine-portable (no lookbehind; the whitespace-or-start
    * anchor rides as a capture group, the boundary rule's own
    * convention).
    */
  private[graft] val abbrevRe: String =
    "(^|\\s)(" + abbreviations.sortBy(a => (-a.length, a))
      .map(_.replace(".", "\\.")).mkString("|") + ")\\."

  /** Sentence segmentation — the boundary rule chunking/dedup
    * pipelines run before sentence-level operators: a terminal
    * [.!?] followed by whitespace ends a sentence, EXCEPT when the
    * period closes a listed abbreviation ([[abbreviations]]: "Dr.
    * Smith" stays one sentence). Deterministic regex tier (the
    * q89/htmlExtract discipline — both engines replay it
    * byte-for-byte): the abbreviation guard rewrites each protected
    * period to a U+0003 sentinel, a capture-group rewrite plants a
    * U+0001 sentinel after each remaining boundary (RE2 has no
    * lookbehind, so the rewrite+split form IS the portable form), then
    * one split + per-sentence trim restores the protected periods.
    * Unlisted abbreviations ("U.S. Army") still split — the documented
    * limitation of the bounded table.
    *
    * Map-only + one explode; no shuffle. Output: (<idCol>, sent_idx,
    * sentence), sent_idx 0-based in document order, empty sentences
    * dropped.
    */
  def sentenceSplit(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    // raw crawl text can already carry the sentinel bytes (the mojibake
    // path deliberately PRESERVES C0/C1 passthrough chars) - strip them
    // first, or a pre-existing U+0001/U+0003 fakes a boundary/guard
    val cleaned = replace(replace(col(textCol), lit("\u0001"), lit(" ")),
      lit("\u0003"), lit(" "))
    val guarded = regexp_replace(cleaned, abbrevRe, "$1$2\u0003")
    val marked = regexp_replace(guarded, "([.!?])\\s+", "$1\u0001")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(filter(
        transform(split(marked, "\u0001", -1),
          s => replace(trim(s), lit("\u0003"), lit("."))), s => s =!= ""))
        .as(Seq("sent_idx", "sentence")))
  }

  /** Cross-corpus sentence-level exact dedup — the Dolma/CCNet tier
    * BETWEEN line-dedup and the MinHash near-dup tier: the corpus is
    * re-segmented by [[sentenceSplit]]'s boundary rule, and only the
    * FIRST occurrence (by (doc, position), corpus-wide) of each
    * normalized sentence survives; every later occurrence — a
    * within-doc repeat OR a cross-doc copy — is cut and each document
    * reassembles in order. Normalization for the dedup key is
    * lowercase + whitespace collapse; the shuffle key is its md5
    * fingerprint, not the sentence bytes (a shuffle at corpus scale
    * moves 16-byte keys, not prose).
    *
    * Plan shape: one sentence explode, ONE fingerprint-keyed window
    * (row_number over (doc, position) — first-occurrence-wins is a
    * total order, not a coin flip), one per-doc ordered re-aggregate.
    * Mega-duplicated sentences (site boilerplate) concentrate a key;
    * AQE skew handling splits those partitions, and the boilerplate
    * tier upstream ([[boilerplateLines]]/[[removeLines]]) exists to
    * drain exactly that mass first.
    *
    * Docs whose text is NULL are excluded (no sentences to judge).
    * Sentences reassemble separated by one space (the boundary
    * whitespace was consumed by the split; terminals stay with their
    * sentence). Output: (<idCol>, n_sentences, n_removed, clean_text).
    */
  def dedupSentencesAcrossDocs(docs: org.apache.spark.sql.DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the caller's id type flows through UNCHANGED: the window/groupBy
    // need only an orderable key, and a silent cast("long") would turn
    // string ids into NULLs and collapse every doc into one group
    val sents = sentenceSplit(docs, idCol, textCol)
      .select(col(idCol).as("did"), col("sent_idx").as("si"), col("sentence"))
      .withColumn("key",
        md5(regexp_replace(lower(col("sentence")), "\\s+", " ").cast("binary")))
    val w = Window.partitionBy("key").orderBy("did", "si")
    sents.withColumn("_occ", row_number().over(w))
      .groupBy("did")
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("_occ") > 1, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("_occ") === 1, struct(col("si"), col("sentence"))))),
          x => x.getField("sentence")), " ").as("clean_text"))
      .select(col("did").as(idCol), col("n_sentences"), col("n_removed"), col("clean_text"))
  }

  /** Whitespace token count (the cheap estimator). */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count estimate: word-piece regex matches — runs of
    * letters, single digits, or single punctuation marks — the standard
    * pre-tokenization shape used by BPE vocabularies.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).cast("long")

  /** Rough char-per-token LLM cost estimate (chars/4, ceiling). */
  def charTokenEstimate(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** Small per-language marker-word lists for the n-gram/stopword
    * language-ID heuristic. Deterministic, tiny, broadcast-free
    * (inlined as literals into codegen). Latin-script languages match
    * whole tokens; [[nonLatin]] languages match by substring containment
    * because [[tokens]]' `[a-z0-9_']` runs drop CJK/Cyrillic characters
    * entirely (token matching would make them undetectable).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "en", "que", "por", "con"),
    "it" -> Seq("il", "la", "di", "che", "e", "per", "non", "con", "sono", "della"),
    "pt" -> Seq("de", "que", "o", "em", "um", "para", "com", "uma", "os", "mais"),
    "nl" -> Seq("de", "het", "een", "van", "en", "dat", "niet", "met", "zijn", "voor"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "как", "это", "по", "его"),
    "ja" -> Seq("の", "に", "は", "を", "た", "が", "で", "て", "と", "する"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这")
  )

  /** Languages whose scripts the token regex cannot segment — markers
    * match by containment in the raw text instead.
    */
  val nonLatin: Set[String] = Set("ru", "ja", "zh")

  /** Distinct marker hits for one language: token-set intersection for
    * Latin scripts, per-marker substring containment otherwise.
    */
  def markerHits(text: Column, toks: Column, lang: String): Column =
    if (nonLatin(lang))
      // lower() like the token path: upper-case Cyrillic must still hit
      // the lowercase markers (CJK has no case, lower() is a no-op there)
      langMarkers(lang).map(m => when(instr(lower(text), m) > 0, 1).otherwise(0))
        .reduce(_ + _)
    else
      size(array_intersect(array_distinct(toks), array(langMarkers(lang).map(lit): _*)))

  /** Language-ID: the language with the most distinct marker hits;
    * lexicographically-first language wins ties; zero hits → "und"
    * (undetermined). Pure expression — no UDF.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langMarkers.keys.toSeq.sorted.map { l =>
      struct(markerHits(text, toks, l).as("hits"), lit(l).as("lang"))
    }
    // array_max on struct orders by (hits, lang); we want max hits but
    // lexicographically FIRST lang on ties → compare with negated rank.
    val best = aggregate(
      array(scored: _*),
      struct(lit(-1).cast("int").as("hits"), lit("und").as("lang")),
      (acc, x) => when(x.getField("hits") > acc.getField("hits"), x).otherwise(acc)
    )
    when(best.getField("hits") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Language-ID over a whole frame — the hot-path form. The column
    * form [[langId]] re-evaluates `tokens(text)` (an INTERPRETED
    * higher-order filter) once per Latin language; this one materializes
    * the distinct-token array a single time as a real column, so the
    * per-language marker intersections reference an attribute. Output:
    * (<idCol>, <outCol>). Same semantics: most distinct marker hits,
    * lexicographically-first language on ties, zero hits → "und".
    */
  def langIdFrame(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", outCol: String = "lang_guess"): org.apache.spark.sql.DataFrame = {
    val langs = langMarkers.keys.toSeq.sorted
    // one-pass native marker counting on both script paths: one hash
    // lookup per distinct token for the Latin languages, one lower() +
    // 30 contains walks for the non-Latin ones (the composable probes
    // re-lowered the whole text per marker — 30 lower() passes/row)
    val latinIdx = graft.functions.LangHits.latinLangs.zipWithIndex.toMap
    val nonLatinIdx = graft.functions.NonLatinHits.langs.zipWithIndex.toMap
    val s0 = docs.select(col(idCol),
      graft.functions.LangHitsExprs.langHits(array_distinct(tokens(col(textCol)))).as("__lh"),
      graft.functions.LangHitsExprs.nonLatinHits(col(textCol)).as("__nlh"))
    // coalesce to 0: a null text makes both hit arrays null, and a null
    // hit column would void greatest() → NULL lang_guess; anchoring at 0
    // keeps the column-form contract (null/empty text → "und")
    val hitCols = langs.map { l =>
      val h =
        if (nonLatin(l)) element_at(col("__nlh"), lit(nonLatinIdx(l) + 1))
        else element_at(col("__lh"), lit(latinIdx(l) + 1))
      coalesce(h, lit(0)).as(s"__h_$l")
    }
    val s1 = s0.select(col(idCol) +: hitCols: _*)
    val mx = greatest(langs.map(l => col(s"__h_$l")): _*)
    // first language (sorted order) reaching the max: when-chain → coalesce
    val first = langs.map(l => when(col(s"__h_$l") === mx, lit(l))).reduce(coalesce(_, _))
    s1.select(col(idCol), when(mx <= 0, lit("und")).otherwise(first).as(outCol))
  }

  /** Quality heuristics (length, punctuation ratio, stopword ratio,
    * mean word length, alpha ratio) and a composite [0,1] score.
    * Rounded to 4 decimals for cross-engine determinism.
    */
  def qualityFeatures(text: Column): Column = {
    val len = length(text).cast("double")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    // one byte walk for both class counts (r14: the column form still
    // paid the two regexp_count passes qualityFrame had already
    // replaced with CharClassCounts — same values, same null shape)
    val cc = graft.functions.CharClassExprs.charClassCounts(text)
    val punct = cc.getField("punct").cast("double")
    val alpha = cc.getField("alpha").cast("double")
    val stopHits = size(array_intersect(array_distinct(toks),
      array(langMarkers("en").map(lit): _*))).cast("double")
    val meanWordLen = when(nTok > 0, alpha / nTok).otherwise(lit(0.0))
    struct(
      len.cast("long").as("n_chars"),
      nTok.cast("long").as("n_tokens"),
      round(when(len > 0, punct / len).otherwise(0.0), 4).as("punct_ratio"),
      round(when(len > 0, alpha / len).otherwise(0.0), 4).as("alpha_ratio"),
      round(when(nTok > 0, stopHits / lit(10.0)).otherwise(0.0), 4).as("stopword_ratio"),
      round(meanWordLen, 4).as("mean_word_len")
    )
  }

  /** Quality features + composite score over a whole frame — the
    * hot-path form. Each `getField` on the [[qualityFeatures]] struct
    * copies the whole expression tree (the interpreted `tokens` filter
    * runs ~7× per row across the fields and [[qualityScore]]); the
    * staged projections here materialize the token array once, then
    * compute counts, then ratios and the score from real attribute
    * columns. Output: (<idCol>, n_chars, n_tokens, punct_ratio,
    * alpha_ratio, stopword_ratio, mean_word_len, quality_score) —
    * values identical to the column forms.
    */
  def qualityFrame(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   carryCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    // carryCols ride along through the staged projections (free column
    // pushthrough) so rollup consumers don't re-join the corpus for a
    // grouping key they already scanned past
    val carry = carryCols.map(col)
    // __cc stages the one-pass (punct, alpha) byte-walk counts — the
    // two regexp_count passes these replace each re-scanned the text
    val s0 = docs.select(Seq(col(idCol), col(textCol).as("__text"),
      tokens(col(textCol)).as("__toks"),
      graft.functions.CharClassExprs.charClassCounts(col(textCol)).as("__cc")) ++ carry: _*)
    val s1 = s0.select(Seq(col(idCol),
      length(col("__text")).cast("double").as("__len"),
      size(col("__toks")).cast("double").as("__ntok"),
      col("__cc.punct").cast("double").as("__punct"),
      col("__cc.alpha").cast("double").as("__alpha"),
      size(array_intersect(array_distinct(col("__toks")),
        array(langMarkers("en").map(lit): _*))).cast("double").as("__stop")) ++ carry: _*)
    val s2 = s1.select(Seq(col(idCol),
      col("__len").cast("long").as("n_chars"),
      col("__ntok").cast("long").as("n_tokens"),
      round(when(col("__len") > 0, col("__punct") / col("__len")).otherwise(0.0), 4).as("punct_ratio"),
      round(when(col("__len") > 0, col("__alpha") / col("__len")).otherwise(0.0), 4).as("alpha_ratio"),
      round(when(col("__ntok") > 0, col("__stop") / lit(10.0)).otherwise(0.0), 4).as("stopword_ratio"),
      round(when(col("__ntok") > 0, col("__alpha") / col("__ntok")).otherwise(lit(0.0)), 4).as("mean_word_len")) ++ carry: _*)
    s2.select(Seq(col(idCol), col("n_chars"), col("n_tokens"), col("punct_ratio"),
      col("alpha_ratio"), col("stopword_ratio"), col("mean_word_len"),
      round(least(col("n_chars").cast("double") / 200.0, lit(1.0)) * 0.25
        + col("alpha_ratio") * 0.35
        + greatest(lit(0.0), lit(1.0) - col("punct_ratio") * 5.0) * 0.2
        + col("stopword_ratio") * 0.2, 4).as("quality_score")) ++ carry: _*)
  }

  /** Composite quality score in [0,1]: long-enough, mostly-alphabetic,
    * low-punctuation text with common stopwords scores high.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_chars").cast("double") / 200.0, lit(1.0))
    val alphaScore = f.getField("alpha_ratio")
    val punctPenalty = greatest(lit(0.0), lit(1.0) - f.getField("punct_ratio") * 5.0)
    val stopScore = f.getField("stopword_ratio")
    round((lenScore * 0.25 + alphaScore * 0.35 + punctPenalty * 0.2 + stopScore * 0.2), 4)
  }

  /** Normalized text: lower-case, punctuation stripped, whitespace
    * collapsed — the canonical form for exact-dedup fingerprints.
    * One native byte walk after `lower` (r14: replaces
    * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]",
    * " "), "\\s+", " "))` — two full regex passes plus two intermediate
    * string allocations per row — with
    * [[graft.functions.NormTextExprs.normalized]]; NormTextSpec pins
    * the two equal over random UTF-8).
    */
  def normalized(text: Column): Column =
    graft.functions.NormTextExprs.normalized(text)

  /** Content fingerprint: md5 of the normalized text. The normalized
    * alphabet is ASCII-only, so text with no ASCII alphanumerics at all
    * (CJK/Cyrillic-only documents, punctuation-only strings) normalizes
    * to "" — those fall back to the RAW text so distinct non-Latin
    * documents keep distinct fingerprints (byte-exact dedup: strictly
    * conservative, never merges what it can't normalize). Null text
    * yields a null fingerprint — callers decide null-key policy.
    */
  def fingerprint(text: Column): Column =
    md5(when(length(normalized(text)) > 0, normalized(text)).otherwise(text).cast("binary"))

  /** DataFrame form of [[minShingleFingerprint]] for hot paths: one
    * rolling byte-walk per document over base-38 window codes (the
    * windows themselves, bijectively coded — see
    * [[graft.functions.ShingleCodes]]), keeping the minimum code.
    * Map-only: no digest, no explode, no shuffle. Null text keeps its
    * row with a null fingerprint (nulls propagate through the code
    * walk), matching the oracle's per-document projection.
    * Output: (<idCol>, min_shingle_fp bigint).
    */
  def minShingleFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                             textCol: String = "text", k: Int = 12): org.apache.spark.sql.DataFrame =
    DedupOps.widen(docs)
      .select(col(idCol), minShingleFingerprint(col(textCol), k).as("min_shingle_fp"))

  /** Rolling-hash shingle fingerprint: the minimum base-38 code over
    * all k-char windows of the normalized text — a cheap
    * winnowing-style document signature robust to small edits at the
    * ends. Text shorter than k yields its single zero-padded window
    * code. k ≤ 12 (the code must fit a long).
    */
  def minShingleFingerprint(text: Column, k: Int = 12): Column =
    array_min(graft.functions.ShingleExprs.shingleCodes(normalized(text), k))

  /** Winnowing fingerprints (the MOSS selection rule, Schleimer/
    * Wilkerson/Aiken): hash every k-token gram, then from each window
    * of `w` consecutive gram positions keep the minimum hash — rightmost
    * on ties — and emit the distinct selected (position, hash) pairs.
    * The guarantee that makes it THE local-fingerprint scheme: any
    * shared run of ≥ w+k−1 tokens between two documents yields at least
    * one IDENTICAL selected fingerprint in both, while storing only
    * ~2/(w+1) of the grams — position-robust (insertions shift
    * positions but reselect the same hashes), unlike head/stride
    * sampling.
    *
    * Plan shape: gram hashing is map-only (gram string → md5 → first 8
    * hex as a 32-bit code, the seeded-hash convention); selection is a
    * per-doc window max of a (−hash, pos) struct over ROWS [0, w−1] —
    * partitioned by doc, no global sort; distinct is the only shuffle.
    * Docs with fewer than w full-gram windows emit nothing (standard
    * winnowing precondition w ≤ grams).
    *
    * Output: (<idCol>, pos, fp_hash) — 0-based gram position.
    */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, k: Int = 4, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("did"), tokens(col(textCol)).as("tk"))
      .select(col("did"), col("tk"), (size(col("tk")) - (k - 1)).as("n_grams"))
      .filter(col("n_grams") >= w)
    val grams = base
      .select(col("did"), col("tk"), col("n_grams"),
        explode(sequence(lit(0), col("n_grams") - 1)).as("q"))
      .select(col("did"), col("n_grams"), col("q"),
        graft.functions.Md5PrefixExprs.md5Prefix(
          concat_ws(" ", slice(col("tk"), col("q") + 1, lit(k))), 8).as("h"))
    val wdw = Window.partitionBy("did").orderBy("q")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("_best", max(struct((-col("h")).as("negh"), col("q").as("pos"))).over(wdw))
      .filter(col("q") <= col("n_grams") - w) // only full windows select
      .select(col("did").as(idCol), col("_best.pos").cast("long").as("pos"),
        (-col("_best.negh")).as("fp_hash"))
      .distinct()
  }

  /** Near-dup pairs by winnowing-fingerprint overlap: docs sharing any
    * selected hash are candidates (one equi-join on the hash — the only
    * corpus-sized shuffle); overlap is the exact Jaccard of the two
    * distinct fingerprint-hash sets. The winnowing guarantee turns
    * `minShared` into a length floor: a pair sharing a run of
    * ≥ minShared·(w+1)/2 + w + k − 2 tokens cannot be missed.
    *
    * Output: (id_a, id_b, shared_fps, jaccard), id_a < id_b, shared ≥
    * `minShared`.
    */
  def winnowNearDup(fps: org.apache.spark.sql.DataFrame, minShared: Int = 2,
                    idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val sets = fps.select(col(idCol).as("did"), col("fp_hash")).distinct()
    val counts = sets.groupBy("did").agg(count(lit(1)).as("nf"))
    val a = sets.select(col("fp_hash"), col("did").as("id_a"))
    val b = sets.select(col("fp_hash"), col("did").as("id_b"))
    a.join(b, Seq("fp_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .join(counts.select(col("did").as("id_a"), col("nf").as("nf_a")), Seq("id_a"))
      .join(counts.select(col("did").as("id_b"), col("nf").as("nf_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        round(col("shared_fps").cast("double")
          / (col("nf_a") + col("nf_b") - col("shared_fps")), 4).as("jaccard"))
  }

  /** Gopher-style composite admission gate: the rule-set form of the
    * quality/repetition features — every document gets a PER-RULE
    * boolean verdict plus the conjunctive `keep`, so a pipeline can
    * audit WHY mass was dropped (the per-rule loss report is how these
    * thresholds actually get tuned), not just how much.
    *
    * Rules (Gopher's families, thresholds adapted to this corpus):
    * token-count bounds, mean-word-length band, alphabetic-character
    * ratio floor, stopword floor, top-token concentration ceiling,
    * duplicate-bigram ceiling. All ratios are computed ONCE in a single
    * map-only pass (charClassCounts + tokenStats native walks — no
    * explode, no join, no shuffle) and rounded to 4dp BEFORE
    * thresholding, so the verdicts replay exactly in SQL.
    *
    * Output: (<idCol>, n_tokens, r_len, r_word_len, r_alpha,
    * r_stopwords, r_top_token, r_repetition, keep).
    */
  def gopherFilter(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   minTokens: Long = 8, maxTokens: Long = 5000,
                   minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 10.0,
                   minAlphaRatio: Double = 0.6, minStopwordRatio: Double = 0.1,
                   maxTopTokenRatio: Double = 0.2, maxDupBigramRatio: Double = 0.6): org.apache.spark.sql.DataFrame = {
    val s0 = DedupOps.widen(docs).select(col(idCol),
      length(col(textCol)).cast("double").as("__len"),
      graft.functions.CharClassExprs.charClassCounts(col(textCol)).as("__cc"),
      graft.functions.TokenStatsExprs.tokenStats(tokens(col(textCol))).as("__ts"),
      size(array_intersect(array_distinct(tokens(col(textCol))),
        array(langMarkers("en").map(lit): _*))).cast("double").as("__stop"))
    val s1 = s0.select(col(idCol),
      coalesce(col("__ts.n_tokens"), lit(0L)).as("n_tokens"),
      round(when(col("__len") > 0, col("__cc.alpha").cast("double") / col("__len"))
        .otherwise(0.0), 4).as("__alpha_ratio"),
      round(when(col("__ts.n_tokens") > 0, col("__stop") / lit(10.0))
        .otherwise(0.0), 4).as("__stop_ratio"),
      round(when(col("__ts.n_tokens") > 0,
        col("__cc.alpha").cast("double") / col("__ts.n_tokens"))
        .otherwise(lit(0.0)), 4).as("__mwl"),
      round(when(col("__ts.n_tokens") > 0,
        col("__ts.top").cast("double") / col("__ts.n_tokens"))
        .otherwise(0.0), 4).as("__top_ratio"),
      round(when(col("__ts.btot") > 0,
        lit(1.0) - col("__ts.bdis").cast("double") / col("__ts.btot"))
        .otherwise(0.0), 4).as("__dup_bigram"))
    val rules = Seq(
      "r_len" -> (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens),
      "r_word_len" -> (col("__mwl") >= minMeanWordLen && col("__mwl") <= maxMeanWordLen),
      "r_alpha" -> (col("__alpha_ratio") >= minAlphaRatio),
      "r_stopwords" -> (col("__stop_ratio") >= minStopwordRatio),
      "r_top_token" -> (col("__top_ratio") <= maxTopTokenRatio),
      "r_repetition" -> (col("__dup_bigram") <= maxDupBigramRatio))
    s1.select((col(idCol) +: col("n_tokens") +:
      rules.map { case (n, c) => c.as(n) }) :+
      rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Cross-document LINE-level dedup (the C4 discipline, applied
    * corpus-wide): any line whose normalized content occurs in ≥
    * `minDocs` DISTINCT documents is removed from every document, and
    * the cleaned text re-assembles from the surviving lines in order.
    * Complements [[removeDupSpans]] (token-window spans within/across
    * docs) with the boilerplate catch: navbars, license headers, quote
    * blocks — content that repeats as whole lines.
    *
    * Plan shape: one explode to (doc, line-index, line), line keys by
    * md5 of the trimmed lower-cased line. For the default minDocs = 2
    * the ban verdict is `min(did) ≠ max(did)` over a key-partitioned
    * window — the exploded lines are read ONCE (an upstream with
    * expensive lineage executes once, no caller-persist needed) and no
    * per-key doc set ever materializes (a boilerplate line in 10⁶ docs
    * costs two longs of window state, not a 10⁶-element set). For
    * minDocs > 2 it falls back to a distinct-docs count + key equi-join
    * (which reads `lines` twice — caller-persist contract applies);
    * reassembly is one per-doc aggregate with an array_sort ordered
    * collect (no window sort) either way.
    *
    * Output: (<idCol>, n_lines, n_removed, clean_text).
    */
  def removeDupLines(docs: org.apache.spark.sql.DataFrame, minDocs: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text",
                     sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("did"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("li", "line")))
      .withColumn("key", md5(trim(lower(col("line"))).cast("binary")))
    val flagged =
      if (minDocs == 2) {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
        lines.withColumn("_banned",
          when(min(col("did")).over(w) =!= max(col("did")).over(w), lit(true)))
      } else {
        val banned = lines.select(col("did"), col("key")).distinct()
          .groupBy("key").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= minDocs)
          .select(col("key"), lit(true).as("_banned"))
        lines.join(banned, Seq("key"), "left")
      }
    flagged
      .groupBy("did")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_banned"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("_banned").isNull, struct(col("li"), col("line"))))),
          x => x.getField("line")), sep).as("clean_text"))
      .select(col("did").as(idCol), col("n_lines"), col("n_removed"), col("clean_text"))
  }

  /** Hit-list line removal — the DESTRUCTIVE half of the
    * discovery→removal loop: [[boilerplateLines]] discovers the
    * template/nav/footer lines (so a human or a threshold can inspect
    * them first), this removes exactly that list from every document
    * and reassembles the text in order. Unlike [[removeDupLines]]
    * (which fuses discovery and removal), the hit list here is an
    * explicit input — the loop a production build wants: discover,
    * review/version the list, THEN destroy.
    *
    * Lines match EXACTLY (the extraction stage already collapsed
    * whitespace, and the hit list comes from the same extraction, so
    * the two cannot disagree about a line's spelling).
    *
    * Plan shape: one explode, one BROADCAST left join against the
    * offender-sized hit list (no corpus-keyed shuffle for the ban
    * verdict at all — the win over removeDupLines when the list is
    * already known), one per-doc ordered re-aggregate.
    *
    * Output: (<idCol>, n_lines, n_removed, clean_text).
    */
  def removeLines(docs: org.apache.spark.sql.DataFrame,
                  lines: org.apache.spark.sql.DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val l = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("did"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("li", "line")))
    val banned = broadcast(lines.select(col("line")).distinct()
      .withColumn("_banned", lit(true)))
    l.join(banned, Seq("line"), "left")
      .groupBy("did")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_banned"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("_banned").isNull, struct(col("li"), col("line"))))),
          x => x.getField("line")), sep).as("clean_text"))
      .select(col("did").as(idCol), col("n_lines"), col("n_removed"), col("clean_text"))
  }

  /** WITHIN-document repeated-line removal — the other half of the C4
    * line discipline ([[removeDupLines]] is the cross-corpus half):
    * inside each document, only the FIRST occurrence of a line's
    * normalized content survives; later repeats (chat-log echoes,
    * scraped pagination, template stutter) are cut and the text
    * re-assembles in order.
    *
    * Plan shape: one explode, one per-doc window (partitioned by doc,
    * ordered by line index — no global sort) marking first occurrences
    * via row_number over (doc, key), one per-doc ordered re-aggregate.
    * No corpus-wide state at all, so this composes BEFORE
    * [[removeDupLines]] in a pipeline without adding a corpus shuffle.
    *
    * Output: (<idCol>, n_lines, n_removed, clean_text).
    */
  def dedupLinesWithinDoc(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("did"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("li", "line")))
      .withColumn("key", md5(trim(lower(col("line"))).cast("binary")))
    val w = Window.partitionBy("did", "key").orderBy("li")
    lines.withColumn("_occ", row_number().over(w))
      .groupBy("did")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_occ") > 1, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("_occ") === 1, struct(col("li"), col("line"))))),
          x => x.getField("line")), sep).as("clean_text"))
      .select(col("did").as(idCol), col("n_lines"), col("n_removed"), col("clean_text"))
  }

  /** Repetition signals over a whole frame (the Gopher-rules family of
    * quality filters: heavily-repeated content marks low-quality or
    * templated text). Output per doc: n_tokens, distinct_ratio
    * (|distinct|/|tokens|), top_token_ratio (most-common-token
    * fraction), dup_bigram_ratio (1 − |distinct bigrams|/|bigrams|),
    * each rounded to 4 decimals. Shapes: one token explode feeding two
    * hash aggregations, one bigram explode feeding one — all
    * partial-aggregated, keyed by doc id.
    */
  def repetitionFrame(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    // one native walk per document computes every count (dictionary-
    // encoded tokens; distinct bigrams = distinct adjacent id pairs) —
    // no explode, no shuffle. Staged select: the stats struct is
    // referenced by several fields below, so CollapseProject keeps it
    // materialized once instead of re-inlining the walk per ratio.
    // Null text → null struct → the zero-row contract of the old
    // left-join shape (when(null > 0) takes the otherwise branch).
    val s0 = DedupOps.widen(docs)
      .select(col(idCol),
        graft.functions.TokenStatsExprs.tokenStats(tokens(col(textCol))).as("__ts"))
    s0.select(col(idCol),
      coalesce(col("__ts.n_tokens"), lit(0L)).as("n_tokens"),
      round(when(col("__ts.n_tokens") > 0, col("__ts.ndis").cast("double") / col("__ts.n_tokens"))
        .otherwise(0.0), 4).as("distinct_ratio"),
      round(when(col("__ts.n_tokens") > 0, col("__ts.top").cast("double") / col("__ts.n_tokens"))
        .otherwise(0.0), 4).as("top_token_ratio"),
      round(when(col("__ts.btot") > 0, lit(1.0) - col("__ts.bdis").cast("double") / col("__ts.btot"))
        .otherwise(0.0), 4).as("dup_bigram_ratio"))
  }

  /** Cross-document duplicated-span ratio — the suffix-array-free
    * approximation of exact-substring dedup (the "ExactSubstr" signal):
    * the fraction of a document's distinct `n`-token windows that also
    * occur in at least one OTHER document. Templated boilerplate scores
    * high; original prose scores ~0.
    *
    * Shape: one window explode, one partial-aggregated count keyed by
    * the window (window occurrences are distinct per doc, so the plain
    * count IS the containing-doc count), a semi-join back, a per-doc
    * count. At 100 TB the window string key would be coded to a fixed
    * 64-bit rolling hash before the shuffle (collision-tolerant for a
    * ratio signal); the string key keeps the oracle exact here.
    *
    * Output: (doc_id, n_windows, dup_windows, dup_ratio) for every
    * non-null-text document; docs shorter than `n` tokens have zero
    * windows and ratio 0.
    */
  def dupSpanFrame(docs: org.apache.spark.sql.DataFrame, n: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text",
                   codedKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    // explode_OUTER, not explode: InferFiltersFromGenerate rewrites a
    // plain explode into a pre-Generate Filter of `size(child) > 0 AND
    // isnotnull(child)` with the ENTIRE window chain (regex split
    // included) textually inlined into an interpreted Filter — ~6
    // re-evaluations per row, a 20× slowdown measured at sf0.1. The
    // rule skips outer generates; empty-window docs surface as one
    // null-win row instead, which is exactly what makes the count
    // below cover them (count(win) skips nulls → n_windows = 0).
    val docWinRaw = DedupOps.widen(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        when(size(col("toks")) >= n,
          array_distinct(transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<string>")).as("wins"))
      .select(col(idCol), explode_outer(col("wins")).as("win"))
    // codedKeys: shuffle the 8-byte xxhash64 of the window, not the
    // string — the 100 TB form (see exactSubstrSpans); string keys stay
    // the default so the oracle compares exactly
    val docWin =
      if (!codedKeys) docWinRaw
      else docWinRaw.select(col(idCol),
        when(col("win").isNotNull, xxhash64(col("win"))).as("win"))
    val counts = docWin.groupBy(idCol).agg(count(col("win")).as("n_win"))
    val dupWins = docWin.groupBy("win").agg(count(lit(1)).as("nd"))
      .filter(col("win").isNotNull && col("nd") > 1).select("win")
    // probe side shuffles on the same win key as dupWins' aggregation →
    // the docWin exchange is reused, so the window chain runs twice in
    // total (id-keyed pass + win-keyed pass), never per branch
    val perDoc = docWin.join(dupWins, Seq("win"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("dup_hit"))
    counts.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_win").as("n_windows"),
        coalesce(col("dup_hit"), lit(0L)).as("dup_windows"),
        round(when(col("n_win") > 0,
          coalesce(col("dup_hit"), lit(0L)).cast("double") / col("n_win"))
          .otherwise(0.0), 4).as("dup_ratio"))
  }

  /** Cross-corpus n-gram CONTAMINATION overlap — the doc-level
    * decontamination measure (the GPT-3 "13-gram" discipline, here at
    * `n` tokens): for each EVAL document, the fraction of its distinct
    * n-token windows that occur anywhere in the TRAIN corpus. The
    * graded counterpart of [[graft.ops.DedupOps.decontaminate]]'s
    * boolean verdict: an eval set is retired by overlap ratio, not by
    * one exact match.
    *
    * Shape: both sides explode to distinct windows; the train side
    * reduces to DISTINCT window keys (combiner-friendly); the hit count
    * is a semi-join on the window key — eval×train never forms, and the
    * only corpus-sized shuffle is keyed by the window. At 100 TB the
    * window string would be coded to xxhash64 before the shuffle (the
    * [[dupSpanFrame]] codedKeys form); strings keep the oracle exact.
    *
    * Output: (<idCol>, n_windows, hit_windows, overlap_ratio) for
    * every non-null-text EVAL doc (zero-window docs ride through with
    * ratio 0).
    */
  def crossNgramContamination(train: org.apache.spark.sql.DataFrame,
                              evalDocs: org.apache.spark.sql.DataFrame, n: Int = 8,
                              idCol: String = "doc_id",
                              textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    def wins(df: org.apache.spark.sql.DataFrame) =
      DedupOps.widen(df.filter(col(textCol).isNotNull))
        .select(col(idCol), tokens(col(textCol)).as("toks"))
        .select(col(idCol),
          when(size(col("toks")) >= n,
            array_distinct(transform(sequence(lit(0), size(col("toks")) - n),
              i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
            .otherwise(array().cast("array<string>")).as("wins"))
        .select(col(idCol), explode_outer(col("wins")).as("win"))
    val evalW = wins(evalDocs)
    val trainW = wins(train).filter(col("win").isNotNull).select("win").distinct()
    val counts = evalW.groupBy(idCol).agg(count(col("win")).as("n_windows"))
    val hits = evalW.join(trainW, Seq("win"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("hit"))
    counts.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("hit"), lit(0L)).as("hit_windows"),
        round(when(col("n_windows") > 0,
          coalesce(col("hit"), lit(0L)).cast("double") / col("n_windows"))
          .otherwise(0.0), 4).as("overlap_ratio"))
  }

  /** Exact-substring duplication SPANS — the maximal-contiguous-region
    * upgrade of [[dupSpanFrame]]'s fixed-window ratio (the Lee et al.
    * "ExactSubstr" removal unit): a window occurrence is duplicated
    * when its content appears ≥2 times ANYWHERE in the corpus
    * (within-doc repeats included, unlike [[dupSpanFrame]]'s
    * distinct-per-doc cross-doc count); per doc, overlapping/touching
    * duplicated windows merge into token intervals (gaps-and-islands
    * over window positions: a new span starts when `pos > prev_pos +
    * n`), so a duplicated substring of L ≥ n tokens surfaces as one
    * span of exactly L tokens rather than L−n+1 counted windows.
    * `max_span_tokens` is the longest duplicated run — the quantity a
    * suffix array would report (over-approximated only when distinct
    * duplicated substrings abut — [[suffixArraySpans]] is the exact
    * slice-scale form for when that bound isn't enough); `covered_tokens`
    * is the removal mass an ExactSubstr pass would cut.
    *
    * Shape: one window posexplode, one count shuffle keyed by the
    * window, the duplicated-window set broadcast back into a semi-join
    * (the window chain evaluates twice in total — the agg pass and the
    * probe pass — same as [[dupSpanFrame]]), then a per-doc window over
    * DUPLICATED positions only — state bounded by the doc's own
    * duplicated windows, never the corpus. The window string key keeps
    * the oracle exact; at 100 TB it codes to a 64-bit rolling hash
    * before the shuffle, same note as [[dupSpanFrame]].
    *
    * Output: (doc_id, n_tokens, n_spans, max_span_tokens,
    * covered_tokens, dup_cov_ratio) for every non-null-text document.
    */
  def exactSubstrSpans(docs: org.apache.spark.sql.DataFrame, n: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text",
                       codedKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base = winBase(docs, n, idCol, textCol)
    val spans = spanIntervals(base, n, idCol, codedKeys)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        max(col("e") - col("s")).as("max_span_tokens"),
        sum(col("e") - col("s")).as("covered_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(when(col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(0.0), 4).as("dup_cov_ratio"))
  }

  /** (id, toks, n_tokens, wins) — the shared windowing base of the
    * ExactSubstr family (wins = every n-token window as a joined
    * string; empty for docs shorter than n tokens).
    */
  private def winBase(docs: org.apache.spark.sql.DataFrame, n: Int,
                      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    DedupOps.widen(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"), size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")).as("wins"))

  /** Maximal duplicated token intervals per doc: (idCol, s, e) with
    * 0-based token positions, `e` exclusive — the gaps-and-islands
    * merge over duplicated window positions shared by
    * [[exactSubstrSpans]] (which aggregates them) and
    * [[removeDupSpans]] (which cuts them out).
    */
  private def spanIntervals(base: org.apache.spark.sql.DataFrame, n: Int,
                            idCol: String, codedKeys: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // posexplode_OUTER for the InferFiltersFromGenerate trap (see
    // dupSpanFrame); positions are 0-based
    val docWinRaw = base.select(col(idCol), posexplode_outer(col("wins")).as(Seq("pos", "win")))
    // codedKeys: the 100 TB path — shuffle a 16-byte COMPOSITE of two
    // independently-seeded xxhash64s instead of the ~n-word string
    // (still an order-of-magnitude lighter count shuffle). 128 bits,
    // not 64: [[removeDupSpans]] DELETES what this marks, and at 1e12
    // windows a single 64-bit space expects ~1e4 birthday collisions —
    // score noise for [[exactSubstrSpans]], destructive on the removal
    // path. At 2^128 the expected collision count is ~1e-14. The
    // oracle-checked form keeps strings (exactness, not probability).
    val docWin =
      if (!codedKeys) docWinRaw
      else docWinRaw.select(col(idCol), col("pos"),
        when(col("win").isNotNull,
          struct(xxhash64(col("win")), xxhash64(col("win"), lit(1)))).as("win"))
    val dupWins = docWin.filter(col("win").isNotNull)
      .groupBy("win").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("win")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevPos = lag(col("pos"), 1).over(w)
    docWin.join(dupWins, Seq("win"), "left_semi")
      .select(col(idCol), col("pos").cast("long").as("pos"))
      .withColumn("__new",
        when(prevPos.isNull || col("pos") > prevPos + n, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
      .select(col(idCol), col("s"), col("e"))
  }

  /** ExactSubstr REMOVAL — apply [[exactSubstrSpans]]'s verdict: cut
    * every duplicated span out of the token stream and emit the
    * cleaned text (Lee et al. delete the duplicated substring, they
    * don't just score it). The cleaned text is rebuilt from the
    * normalized token stream (`array_join(kept, " ")`), the same
    * token-level view the span arithmetic ran on — original inter-token
    * whitespace is not preserved, which is the standard contract for a
    * tokenized dedup pass.
    *
    * Shape: the span pipeline's shuffles (window count + per-doc
    * window over duplicated positions only), one collect_list of the
    * doc's OWN intervals (bounded by the doc's span count, never the
    * corpus), then a map-side token filter testing each index against
    * the interval list — O(n_tokens × n_spans), never a materialized
    * covered-position array (a fully-duplicated 500k-token doc has
    * covered_tokens = n_tokens but only a handful of spans). Output:
    * (doc_id, n_tokens, kept_tokens, removed_tokens, clean_text) for
    * every non-null-text document.
    */
  def removeDupSpans(docs: org.apache.spark.sql.DataFrame, n: Int = 8,
                     idCol: String = "doc_id", textCol: String = "text",
                     codedKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base = winBase(docs, n, idCol, textCol)
    val ivs = spanIntervals(base, n, idCol, codedKeys)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    base.join(ivs, Seq(idCol), "left")
      .withColumn("__ivs",
        coalesce(col("ivs"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(col(idCol), col("n_tokens"),
        filter(col("toks"), (x, i) => !exists(col("__ivs"), iv =>
          i.cast("long") >= iv.getField("s") && i.cast("long") < iv.getField("e")))
          .as("kept"))
      .select(col(idCol), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("removed_tokens"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** EXACT ExactSubstr spans — the suffix-array form of
    * [[exactSubstrSpans]], for bounded SLICES (audits, eval sets, the
    * verification tail of a dedup pipeline): `max_dup_tokens` is the
    * TRUE longest duplicated token run (what a suffix array reports —
    * no island over-approximation when distinct duplicated substrings
    * abut), and `covered_tokens` is the exact union of every maximal
    * duplicated run of ≥ `n` tokens.
    *
    * Method: a generalized suffix array over the slice (all corpus
    * suffixes token-wise sorted), adjacent-suffix LCPs, and the classic
    * identity "longest duplicated prefix at a position = max LCP with
    * its suffix-order neighbors"; runs then union per doc by
    * gaps-and-islands in plain Scala. Duplication means ≥2 distinct
    * (doc, position) occurrences anywhere in the SLICE, within-doc and
    * overlapping occurrences included — exactly [[exactSubstrSpans]]'s
    * count definition.
    *
    * This is the deliberate `mapPartitions` case (SURVEY §1.4): suffix
    * sorting is genuinely imperative per-partition logic, and
    * cross-slice duplication needs the whole slice in one task — so the
    * slice is `coalesce(1)`'d and guarded by `maxTokens`. At corpus
    * scale run [[exactSubstrSpans]] (one count shuffle, distributed) as
    * the screen; this form is the slice-scale exact audit. Sharding
    * this exactly (suffix-array construction by distributed prefix
    * doubling) is a log(len)-round shuffle chain — not worth it while
    * the screen + slice-audit pair covers the use cases.
    *
    * Output: (doc_id, n_tokens, n_spans, max_dup_tokens,
    * covered_tokens, dup_cov_ratio) for every non-null-text doc in the
    * slice.
    */
  def suffixArraySpans(docs: org.apache.spark.sql.DataFrame, n: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxTokens: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toksDs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), tokens(col(textCol)))
      .as[(Long, Seq[String])]
    val stats = toksDs.coalesce(1).mapPartitions { it =>
      val corpus = it.toArray
      val arrs: Array[Array[String]] = corpus.map(_._2.toArray)
      val total = arrs.iterator.map(_.length.toLong).sum
      // the Int.MaxValue clamp keeps a caller-raised maxTokens from
      // narrowing `total.toInt` negative (array sizes are Int)
      require(total <= math.min(maxTokens, Int.MaxValue.toLong - 8),
        s"suffixArraySpans is the slice-scale exact form: $total tokens > maxTokens=$maxTokens; " +
          "narrow the slice or use exactSubstrSpans (the distributed screen)")
      // flat suffix table in doc-major order: suffix s ↔ (sufD(s), sufP(s))
      val nSuf = total.toInt
      val sufD = new Array[Int](nSuf); val sufP = new Array[Int](nSuf)
      var s = 0; var d = 0
      while (d < arrs.length) {
        var p = 0
        while (p < arrs(d).length) { sufD(s) = d; sufP(s) = p; s += 1; p += 1 }
        d += 1
      }
      // token-wise lexicographic suffix sort (naive comparator: fine at
      // slice scale, O(S log S · avg-LCP) comparisons)
      def less(a: Int, b: Int): Boolean = {
        val xa = arrs(sufD(a)); val xb = arrs(sufD(b))
        var i = sufP(a); var j = sufP(b)
        while (i < xa.length && j < xb.length) {
          val c = xa(i).compareTo(xb(j))
          if (c != 0) return c < 0
          i += 1; j += 1
        }
        val la = xa.length - sufP(a); val lb = xb.length - sufP(b)
        if (la != lb) la < lb
        else if (sufD(a) != sufD(b)) sufD(a) < sufD(b)
        else sufP(a) < sufP(b)
      }
      val sa = Array.range(0, nSuf).sortWith(less)
      def lcp(a: Int, b: Int): Int = {
        val xa = arrs(sufD(a)); val xb = arrs(sufD(b))
        var i = sufP(a); var j = sufP(b); var l = 0
        while (i < xa.length && j < xb.length && xa(i) == xb(j)) { i += 1; j += 1; l += 1 }
        l
      }
      // longest duplicated prefix per suffix = max LCP with SA neighbors
      val lmax = new Array[Int](nSuf)
      var r = 1
      while (r < sa.length) {
        val l = lcp(sa(r - 1), sa(r))
        if (l > lmax(sa(r - 1))) lmax(sa(r - 1)) = l
        if (l > lmax(sa(r))) lmax(sa(r)) = l
        r += 1
      }
      // per doc: union the runs [p, p + lmax) with lmax >= n
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)](arrs.length)
      s = 0; d = 0
      while (d < arrs.length) {
        val len = arrs(d).length
        var nSpans = 0L; var maxDup = 0L; var covered = 0L
        var curStart = -1; var curEnd = -1
        var p = 0
        while (p < len) {
          val l = lmax(s + p)
          if (l >= n) {
            if (l > maxDup) maxDup = l
            val e = p + l
            if (curEnd < 0 || p > curEnd) {
              if (curEnd >= 0) covered += curEnd - curStart
              nSpans += 1; curStart = p; curEnd = e
            } else if (e > curEnd) curEnd = e
          }
          p += 1
        }
        if (curEnd >= 0) covered += curEnd - curStart
        out += ((corpus(d)._1, len.toLong, nSpans, maxDup, covered))
        s += len; d += 1
      }
      out.iterator
    }
    stats.toDF(idCol, "n_tokens", "n_spans", "max_dup_tokens", "covered_tokens")
      .select(col(idCol), col("n_tokens"), col("n_spans"), col("max_dup_tokens"),
        col("covered_tokens"),
        round(when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") / col("n_tokens")).otherwise(0.0), 4)
          .as("dup_cov_ratio"))
  }

  /** Fixed-token chunking with stride (the RAG / retrieval-index
    * splitter): each non-null-text document explodes into windows of
    * `chunkTokens` tokens starting every `strideTokens` (stride <
    * chunk ⇒ overlap for context continuity). The last chunk may be
    * short; a chunk starts only where at least one token remains, so a
    * doc with t > 0 tokens yields ⌊(t−1)/stride⌋ + 1 chunks (0-token
    * docs yield none). Map-only: the token array
    * materializes once per row and the chunks derive by slice — no
    * shuffle at all, the ideal 100 TB shape.
    *
    * Output: (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).
    */
  def chunkFrame(docs: org.apache.spark.sql.DataFrame, chunkTokens: Int = 64,
                 strideTokens: Int = 48, idCol: String = "doc_id",
                 textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0,
      s"chunk/stride must be positive: $chunkTokens/$strideTokens")
    require(strideTokens <= chunkTokens,
      s"stride $strideTokens > chunk $chunkTokens would skip tokens")
    val base = DedupOps.widen(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
    // starts: 0, stride, 2·stride, … while start < n_tokens
    // (floor(): Spark's `/` on ints is double division)
    val n = size(col("toks"))
    val chunks = when(n > 0,
      transform(sequence(lit(0), floor((n - 1) / lit(strideTokens)).cast("int")),
        k => {
          val start = k * strideTokens
          struct(k.cast("long").as("chunk_idx"), start.cast("long").as("start_tok"),
            least(lit(chunkTokens), n - start).cast("long").as("n_chunk_tokens"),
            array_join(slice(col("toks"), start + 1, lit(chunkTokens)), " ").as("chunk_text"))
        }))
      .otherwise(array().cast(
        "array<struct<chunk_idx:bigint,start_tok:bigint,n_chunk_tokens:bigint,chunk_text:string>>"))
    base.select(col(idCol), explode_outer(chunks).as("c"))
      .filter(col("c").isNotNull) // trap #7: keep the chunk chain out of an inferred filter
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.start_tok").as("start_tok"),
        col("c.n_chunk_tokens").as("n_chunk_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** PII redaction patterns, applied in order (specific → general so an
    * email's digits don't first get eaten by the number rule). Plain
    * regex classes only — no lookarounds — so the same patterns run
    * under Java regex and RE2-family engines alike.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "(?i)https?://[^\\s]+", "<URL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"),
    ("longnum", "[0-9]{9,}", "<NUM>")
  )

  /** Replace each PII category with its placeholder token. Chained
    * codegen'd `regexp_replace` — map-only, no shuffle.
    */
  def redact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, re, token)) => regexp_replace(c, re, token) }

  /** Per-category PII match counts as a struct column (audit view:
    * what a redaction pass WOULD remove). Counting happens on the
    * progressively redacted text, same order as [[redact]] — a number
    * inside a URL is counted once, as the URL.
    */
  def piiCounts(text: Column): Column = {
    val (fields, _) = piiPatterns.foldLeft((Seq.empty[Column], text)) {
      case ((acc, cur), (name, re, token)) =>
        (acc :+ size(regexp_extract_all(cur, lit(re), lit(0))).as(s"n_$name"),
          regexp_replace(cur, re, token))
    }
    struct(fields: _*)
  }

  /** PII prevalence report: per source, total matches per category
    * (the ordered [[piiCounts]] chain — a number inside a URL counts
    * once, as the URL) and the fraction of documents carrying ANY PII
    * — the governance view that decides where a redaction pass is
    * mandatory vs noise. One map-only counting pass, one category-
    * sized rollup.
    *
    * Output per source: (source, n_docs, n_<category>...,
    * docs_with_pii, pii_doc_rate 4dp).
    */
  def piiPrevalence(docs: DataFrame, srcCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val cats = piiPatterns.map(_._1)
    val counted = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol), piiCounts(col(textCol)).as("__p"))
      .select(col(srcCol) +: cats.map(n => col(s"__p.n_$n").cast("long").as(s"n_$n")): _*)
    val aggs = cats.map(n => sum(col(s"n_$n")).as(s"n_$n")) :+
      sum(when(cats.map(n => col(s"n_$n") > 0).reduce(_ || _), 1L).otherwise(0L))
        .as("docs_with_pii")
    counted.groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .withColumn("pii_doc_rate",
        round(col("docs_with_pii") / col("n_docs").cast("double"), 4))
  }

  /** Canary-contamination audit: scan the corpus for a REGISTRY of
    * planted canary strings — the standard eval-leakage tripwire
    * (benchmark owners plant unique strings; a training corpus that
    * contains one has ingested the benchmark). Detection is an honest
    * text scan (`contains` per registry entry, all inside codegen —
    * never the planting rule), rolled up per source: where a canary
    * appears, that WHOLE source's pipeline needs the contamination
    * treatment.
    *
    * Plan shape: one map-only scan with |registry| substring probes
    * per row (registry ≤ 64 by contract — registries are
    * benchmark-sized), one partial-aggregable rollup. Nothing joins,
    * nothing corpus-sized shuffles.
    *
    * Output per source: (source, n_docs, canary_docs, canaries_seen,
    * canary_doc_rate 4dp) — canaries_seen counts DISTINCT registry
    * entries present anywhere in the source.
    */
  def canaryAudit(docs: DataFrame, canaries: Seq[String],
                  srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(canaries.nonEmpty && canaries.size <= 64,
      s"registry must hold 1..64 strings, got ${canaries.size}")
    val hits = canaries.zipWithIndex.map { case (c, i) =>
      col(textCol).contains(c).cast("int").as(s"__c$i")
    }
    val scanned = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol) +: hits: _*)
    val anyHit = canaries.indices.map(i => col(s"__c$i")).reduce(_ + _) > 0
    scanned.groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(anyHit, 1L).otherwise(0L)).as("canary_docs"),
        canaries.indices.map(i => max(col(s"__c$i"))).reduce(_ + _)
          .cast("long").as("canaries_seen"))
      .withColumn("canary_doc_rate",
        round(col("canary_docs") / col("n_docs").cast("double"), 4))
  }

  /** Generation-loop periodicity: for each document and period p in
    * 1..maxPeriod, the fraction of token positions i with
    * token[i] == token[i+p]; the best period is the argmax fraction
    * (ties to the smallest p), and `looping` flags best_frac ≥ 0.5 on
    * docs of at least `minTokens` tokens — the degenerate-repetition
    * detector for model-generated text ("the the the", ABAB chant
    * loops) that q58's distinct-ratio misses when the loop cycles
    * through several tokens.
    *
    * Plan shape: ONE checkpointed (doc, pos, token) explode read by
    * both sides of a (doc, pos)-keyed equi-join (the probe side
    * fans out ×maxPeriod map-side, shifted by p) — a corpus-linear
    * shuffle with a combiner-friendly (doc, p) aggregate; the argmax
    * is a doc-KEYED window. Match fractions are exact integer ratios
    * divided once in doubles — identical IEEE on any engine.
    *
    * Docs with fewer than 2 tokens have no valid period and are
    * absent. Output: (doc_id, n_tokens, best_period, match_frac 4dp,
    * looping).
    */
  def periodicityReport(docs: DataFrame, maxPeriod: Int = 8, minTokens: Int = 12,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPeriod >= 1 && maxPeriod <= 32, s"maxPeriod out of range: $maxPeriod")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .localCheckpoint(true) // probe + build side of the self-join both read it
    val nTok = toks.groupBy("id").agg(count(lit(1)).as("n_tokens"))
    val ps = (1 to maxPeriod).map(p => lit(p))
    val probe = toks
      .select(col("id"), col("pos"), col("tok").as("__tok_a"),
        explode(array(ps: _*)).as("p"))
      .select(col("id"), (col("pos") + col("p")).as("pos"), col("p"), col("__tok_a"))
    val matches = probe
      .join(toks.withColumnRenamed("tok", "__tok_b"), Seq("id", "pos"))
      .groupBy("id", "p")
      .agg(sum(when(col("__tok_a") === col("__tok_b"), 1L).otherwise(0L)).as("__m"))
    val scored = matches.join(nTok, Seq("id"))
      .filter(col("n_tokens") > col("p"))
      .select(col("id"), col("n_tokens"), col("p"),
        (col("__m").cast("double") / (col("n_tokens") - col("p"))).as("__f"))
    val w = Window.partitionBy("id").orderBy(col("__f").desc, col("p").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id").as(idCol), col("n_tokens"),
        col("p").cast("int").as("best_period"),
        round(col("__f"), 4).as("match_frac"),
        (col("__f") >= 0.5 && col("n_tokens") >= minTokens).as("looping"))
  }

  /** Heaps-law growth curve: cumulative vocabulary size vs cumulative
    * tokens over hash-ordered corpus deciles, plus the fitted
    * log-log slope β (V ≈ K·n^β) — the planning number behind
    * "how much NEW vocabulary does the next 10× of data buy"
    * (tokenizer sizing, dedup-value forecasting). A saturating curve
    * (β → 0) says more of the same corpus adds no lexical novelty.
    *
    * The cumulative-distinct trick: a term's FIRST decile is one min
    * aggregate, so vocab at prefix k = Σ_{b≤k} first-occurrences — no
    * k-pass prefix scans. The OLS slope runs over ≤ k banked-ln
    * points (1e-9 integer nanolog units, decimal moments, one FP
    * division).
    *
    * Output per decile: (decile, tokens_cum, vocab_cum, beta) with
    * beta repeated (broadcast scalar).
    */
  def heapsLawCurve(docs: DataFrame, buckets: Int = 10, seed: Long = 31L,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col(textCol).isNotNull)
      .select(pmod(SampleOps.seededHash(col(idCol), seed), lit(buckets.toLong)).as("b"),
        explode(tokens(col(textCol))).as("term"))
      .localCheckpoint(true) // token totals + first-bucket aggregate both read it
    val nt = toks.groupBy("b").agg(count(lit(1)).as("__nt"))
    val nv = toks.groupBy("term").agg(min("b").as("__fb"))
      .groupBy("__fb").agg(count(lit(1)).as("__nv"))
    val spark = docs.sparkSession
    import spark.implicits._
    val grid = (0L until buckets.toLong).toDF("b")
      .join(nt, Seq("b"), "left")
      .join(nv.withColumnRenamed("__fb", "b"), Seq("b"), "left")
      .select(col("b"), coalesce(col("__nt"), lit(0L)).as("__nt"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
    val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    val curve = grid
      .select(col("b").cast("int").as("decile"),
        sum("__nt").over(w).as("tokens_cum"), sum("__nv").over(w).as("vocab_cum"))
      .filter(col("tokens_cum") > 0 && col("vocab_cum") > 0)
      .localCheckpoint(true) // the OLS aggregate + the output both read it
    def d(c: Column) = c.cast("decimal(38,0)")
    val pts = curve.select(
      round(log(col("tokens_cum").cast("double")) * 1e9).cast("long").as("__x"),
      round(log(col("vocab_cum").cast("double")) * 1e9).cast("long").as("__y"))
    val beta = broadcast(pts.agg(count(lit(1)).as("__n"),
        sum(d(col("__x"))).as("__sx"), sum(d(col("__y"))).as("__sy"),
        sum(d(col("__x")) * d(col("__x"))).as("__sxx"),
        sum(d(col("__x")) * d(col("__y"))).as("__sxy"))
      .select(round((col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
        / (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"), 4)
        .as("beta")))
    curve.crossJoin(beta)
  }

  /** BPE first-merge candidates: adjacent character-pair frequencies
    * across the corpus, weighted by word frequency — the statistic the
    * first merge step of byte-pair-encoding tokenizer training ranks.
    *
    * Scale shape: the corpus-sized pass is ONE partial-aggregated
    * groupBy over exploded tokens; the character-pair explosion runs
    * over the DISTINCT vocabulary only (orders of magnitude smaller
    * than the corpus at any scale — vocabulary grows ~Heaps' law).
    * Output: (pair, weight), top `topK` by weight with pair tie-break.
    */
  /** Top characteristic terms per document by tf-rarity — the tf-idf
    * shape with a RATIONAL rarity weight `tf · (N+1)/(df+1)` instead of
    * a logarithm: rank-equivalent per document (log is monotone in df),
    * and pure rational arithmetic is bit-deterministic across engines
    * where `ln` carries last-ulp wobble that no rounding fully absorbs.
    *
    * Scale shape: tf = one partial-aggregated explode pass; df derives
    * from tf (vocabulary-sized); the corpus count joins in as a
    * broadcast scalar; the per-doc top-k is one window over rows
    * already shuffled by doc. Output: (doc_id, term, score, rank).
    */
  def tfIdfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", topK: Int = 3): org.apache.spark.sql.DataFrame = {
    // explode_outer + null filter: keeps the token chain out of the
    // inferred pre-Generate filter (NOTES_r3 trap #7); same below
    val tf = DedupOps.widen(docs)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf").cast("double") * (col("n_docs") + 1) / (col("df") + 1), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** BM25 top-k document retrieval — the lexical ranking function
    * behind classic search and the sparse half of hybrid (RRF) serving:
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the Lucene-style
    * non-negative form).
    *
    * `queryTerms` is (query_id, term), tiny and broadcast. Plan shape:
    * ONE explode pass builds per-(doc, term) tf with map-side partial
    * aggregation; per-doc length and corpus avgdl derive from tf (no
    * second corpus scan); df is computed only for query terms (the
    * broadcast semi-join prunes the vocabulary before the count); the
    * final per-(query, doc) sum and per-query top-k window shuffle only
    * matched rows. Per-term contributions round 6dp before the sum,
    * the sum 4dp (cross-engine determinism); ties break to the smaller
    * doc id.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
               queryTerms: org.apache.spark.sql.DataFrame,
               k1: Double = 1.2, b: Double = 0.75, topK: Int = 10,
               idCol: String = "doc_id",
               textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val corpus = docs.filter(col(textCol).isNotNull)
    val tf = DedupOps.widen(corpus)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
      // N counts every non-null-text doc (zero-token docs can't match a
      // term but still belong in df's denominator); avgdl averages over
      // docs WITH tokens — the only rows a score term can come from
      val n = corpus.agg(count(lit(1)).as("n_docs"))
      val avgdl = dl.agg(avg(col("dl").cast("double")).as("avgdl"))
      val qt = broadcast(queryTerms.select(col("query_id"), col("term")).distinct())
      val df = tf.join(qt.select("term").distinct(), Seq("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(qt, Seq("term"))
        .join(broadcast(df), Seq("term"))
        .join(dl, Seq(idCol))
        .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
        .select(col("query_id"), col(idCol),
          round(
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
              (col("tf") * (k1 + 1.0)) /
              (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
            6).as("__c"))
      val agg = scored.groupBy("query_id", idCol)
        .agg(round(sum("__c"), 4).as("bm25"), count(lit(1)).as("n_terms"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("bm25").desc, col(idCol).asc)
      agg.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
        .localCheckpoint(true)
    } finally tf.unpersist(blocking = false)
  }

  /** Multinomial Naive Bayes language classifier — train + score in one
    * closed-form pass (the count-based fastText-alternative for cheap
    * corpus labeling: no gradient loop, every parameter is an
    * aggregate, so the whole model replays in SQL). Docs with
    * `doc_id % holdoutMod == 0` are the scored test split; the rest
    * train. Laplace-smoothed: log p(t|c) = ln((cnt(t,c)+1)/(tot_c+V)),
    * prior = ln(n_c / n_train); unseen-in-class tokens hit the
    * smoothing floor via the left join.
    *
    * Plan shape: training is two partial-aggregated explode passes
    * (class-token counts; class totals derive from them); V and the
    * class table are broadcast scalars/rows. Scoring explodes the test
    * split ONCE, widens by the |classes| broadcast rows, and left-joins
    * the (class, term) count table — the only corpus-sized shuffle.
    * Per-token log-probs round 6dp before the per-(doc, class) sum
    * (4dp); argmax ties break to the lexicographically smaller class.
    *
    * Output per test doc with ≥1 token: (doc_id, true_lang, pred_lang,
    * score, correct).
    */
  def nbLangClassify(docs: org.apache.spark.sql.DataFrame, holdoutMod: Int = 5,
                     idCol: String = "doc_id", textCol: String = "text",
                     classCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    val base = docs.filter(col(textCol).isNotNull && col(classCol).isNotNull)
    val train = base.filter(pmod(col(idCol), lit(holdoutMod)) =!= 0)
    val test = base.filter(pmod(col(idCol), lit(holdoutMod)) === 0)
    val trainToks = DedupOps.widen(train)
      .select(col(classCol).as("__c"), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
    val counts = trainToks.groupBy("__c", "term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val classes = train.groupBy(col(classCol).as("__c"))
        .agg(count(lit(1)).as("n_c"))
        .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train"))))
        .join(counts.groupBy("__c").agg(sum("cnt").as("tot_c")), Seq("__c"))
        .select(col("__c"),
          round(log(col("n_c").cast("double") / col("n_train")), 6).as("prior"),
          col("tot_c"))
      val vocab = counts.select("term").distinct().agg(count(lit(1)).as("v_size"))
      val testToks = DedupOps.widen(test)
        .select(col(idCol), col(classCol).as("true_lang"),
          explode_outer(tokens(col(textCol))).as("term"))
        .filter(col("term").isNotNull)
      val scoredToks = testToks
        .crossJoin(broadcast(classes))
        .join(counts, Seq("__c", "term"), "left")
        .crossJoin(broadcast(vocab))
        .select(col(idCol), col("true_lang"), col("__c"), col("prior"),
          round(log((coalesce(col("cnt"), lit(0L)) + 1.0) / (col("tot_c") + col("v_size"))), 6)
            .as("__lp"))
      val perClass = scoredToks.groupBy(idCol, "true_lang", "__c", "prior")
        .agg(round(col("prior") + sum("__lp"), 4).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("score").desc, col("__c").asc)
      perClass.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
        .select(col(idCol), col("true_lang"), col("__c").as("pred_lang"), col("score"),
          (col("true_lang") === col("__c")).as("correct"))
        .localCheckpoint(true)
    } finally counts.unpersist(blocking = false)
  }

  /** Classifier evaluation report — per-class precision / recall / F1
    * from a scored frame (e.g. [[nbLangClassify]]'s output): the
    * confusion-matrix rollup that decides whether a cheap corpus
    * labeler is good enough to gate data on.
    *
    * `scored` is referenced twice (true-class and predicted-class
    * rollups) — same caller-persist contract as [[perplexityBuckets]];
    * [[nbLangClassify]] already returns a checkpointed frame. Classes
    * appearing only among predictions (or only among truths) survive
    * via the full outer join with zeroed counts. F1 derives from the
    * ROUNDED precision/recall (deterministic across engines).
    *
    * Output per class: (label, support, tp, pred_n, precision, recall,
    * f1).
    */
  def classifierEval(scored: org.apache.spark.sql.DataFrame,
                     trueCol: String = "true_lang",
                     predCol: String = "pred_lang"): org.apache.spark.sql.DataFrame = {
    val byTrue = scored.groupBy(col(trueCol).as("label"))
      .agg(count(lit(1)).as("support"),
        sum(when(col(predCol) === col(trueCol), 1L).otherwise(0L)).as("tp"))
    val byPred = scored.groupBy(col(predCol).as("label"))
      .agg(count(lit(1)).as("pred_n"))
    val joined = byTrue.join(byPred, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("pred_n"), lit(0L)).as("pred_n"))
    joined
      .withColumn("precision",
        round(when(col("pred_n") > 0, col("tp") / col("pred_n")).otherwise(0.0), 4))
      .withColumn("recall",
        round(when(col("support") > 0, col("tp") / col("support")).otherwise(0.0), 4))
      .withColumn("f1",
        round(when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(0.0), 4))
  }

  /** Per-group unigram KL divergence vs the whole corpus —
    * KL(P_g ‖ P_corpus) with add-1 smoothing over the corpus
    * vocabulary: the data-mixing diagnostic that says which sources'
    * token distributions drift furthest from the blend they feed
    * (large KL → the source is lexically distinctive; near-zero → it
    * duplicates the mixture).
    *
    * Plan shape: per-(group, term) counts are ONE partial-aggregated
    * explode pass; corpus counts, group totals and the vocab size all
    * DERIVE from that table (no second corpus scan); the KL sum runs
    * over the vocab × |groups| grid (vocabulary-sized, not
    * corpus-sized). Per-term contributions are banked as EXACT integer
    * micro-nats (round(p·ln(p/q)·10⁶)), so the per-group sum is
    * order-independent and replays bit-for-bit in any engine.
    *
    * Output per group: (<groupCol>, n_tokens, vocab_size, kl_nats).
    */
  def unigramKlByGroup(docs: org.apache.spark.sql.DataFrame, groupCol: String = "source",
                       textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = DedupOps.widen(docs)
      .select(col(groupCol).as("grp"), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
    val gc = toks.groupBy("grp", "term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cc = gc.groupBy("term").agg(sum("cnt").as("ccnt"))
      val gt = gc.groupBy("grp").agg(sum("cnt").as("gtot"))
      val ct = broadcast(gc.agg(sum("cnt").as("ctot"), count_distinct(col("term")).as("v_size")))
      val grid = cc.crossJoin(broadcast(gt))
        .join(gc, Seq("grp", "term"), "left")
        .crossJoin(ct)
      val p = (coalesce(col("cnt"), lit(0L)) + 1.0) / (col("gtot") + col("v_size"))
      val q = (col("ccnt") + 1.0) / (col("ctot") + col("v_size"))
      val micro = round(p * log(p / q) * lit(1000000.0)).cast("long")
      grid.select(col("grp"), col("gtot"), col("v_size"), micro.as("__m"))
        .groupBy("grp", "gtot", "v_size")
        .agg(round(sum("__m") / lit(1000000.0), 6).as("kl_nats"))
        .select(col("grp").as(groupCol), col("gtot").as("n_tokens"),
          col("v_size").as("vocab_size"), col("kl_nats"))
        .localCheckpoint(true)
    } finally gc.unpersist(blocking = false)
  }

  /** Vocabulary coverage / Zipf report — the top-K tokens with their
    * cumulative share of all corpus tokens: the tokenizer-sizing
    * diagnostic ("how much of the stream do the first K vocabulary
    * entries cover") and the heavy-hitter audit for boilerplate tokens.
    *
    * Plan shape: one partial-aggregated explode builds the vocabulary
    * counts; the ordered top-K is `orderBy().limit(K)` (distributed
    * take-ordered, never a full sort), and the rank/cumulative window
    * runs over exactly K rows. The corpus total joins in as a broadcast
    * scalar. Output: (term, cnt, rank, cum_share).
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, topK: Int = 20,
                    textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val counts = DedupOps.widen(docs)
      .select(explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("term").asc)))
      .withColumn("cum_share", round(sum("cnt").over(w) / col("total"), 6))
      .select(col("term"), col("cnt"), col("rank"), col("cum_share"))
  }

  /** Out-of-vocabulary rate of held-out documents against a vocabulary
    * trained on the rest — the tokenizer-coverage eval: pick a vocab
    * size, measure what fraction of unseen text it cannot express.
    * Docs with `doc_id % holdoutMod == 0` score; the rest train (the
    * [[nbLangClassify]] split convention).
    *
    * Plan shape: the vocabulary is a counts aggregate + distributed
    * take-ordered top-`vocabSize`, broadcast back; scoring is one test
    * explode + broadcast join + per-doc rollup.
    * Output per test doc with ≥1 token: (doc_id, n_tokens, n_oov,
    * oov_rate).
    */
  def oovRate(docs: org.apache.spark.sql.DataFrame, vocabSize: Int = 100,
              holdoutMod: Int = 5, idCol: String = "doc_id",
              textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    val train = base.filter(pmod(col(idCol), lit(holdoutMod)) =!= 0)
    val vocab = DedupOps.widen(train)
      .select(explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(true).as("__in_vocab"))
    base.filter(pmod(col(idCol), lit(holdoutMod)) === 0)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** PMI collocations — the top adjacent token pairs by pointwise
    * mutual information ln(p(ab)/(p(a)p(b))) with a minimum pair count:
    * the phrase-mining primitive behind multi-word vocabulary entries
    * ("new york" should be one token) and collocation-aware quality
    * checks.
    *
    * Plan shape: unigram and bigram counts are each ONE
    * partial-aggregated explode pass (bigrams form map-side from the
    * token array zipped with its tail); totals broadcast as scalars;
    * only pairs clearing `minCount` join their unigram marginals; the
    * top-K is a distributed take-ordered head. Output:
    * (w1, w2, n_ab, n_a, n_b, pmi, rank).
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, minCount: Int = 5,
                      topK: Int = 20, textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val base = DedupOps.widen(docs).select(tokens(col(textCol)).as("__t"))
    val uni = base.select(explode_outer(col("__t")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("n"))
    val bi = base.select(explode_outer(
        zip_with(slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
          slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
    val tot = broadcast(uni.agg(sum("n").as("tt")))
    val btot = broadcast(bi.agg(sum("n_ab").as("bt")))
    val scored = bi.filter(col("n_ab") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("n_ab"))
      .join(uni.select(col("term").as("w1"), col("n").as("n_a")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("n").as("n_b")), Seq("w2"))
      .crossJoin(tot).crossJoin(btot)
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        round(log((col("n_ab") / col("bt"))
          / ((col("n_a") / col("tt")) * (col("n_b") / col("tt")))), 6).as("pmi"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(topK)
      .withColumn("rank", row_number().over(w))
  }

  /** Longest same-token run per document — the degenerate-generation /
    * loop detector ("the the the the…" and stuck-sampler output):
    * classic gaps-and-islands over the exploded token stream, one
    * per-(doc, token) window + two partial-agg rollups; ties on the run
    * length report the lexicographically smaller token.
    *
    * Output per doc with ≥1 token: (doc_id, max_run, run_token,
    * is_loop = max_run ≥ loopThreshold).
    */
  def maxTokenRun(docs: org.apache.spark.sql.DataFrame, loopThreshold: Int = 4,
                  idCol: String = "doc_id",
                  textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val ex = DedupOps.widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol, "term").orderBy("pos")
    ex.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(idCol, "term", "grp").agg(count(lit(1)).as("run"))
      .groupBy(idCol)
      .agg(min(struct((-col("run")).as("nr"), col("term").as("t"))).as("m"))
      .select(col(idCol), (-col("m.nr")).as("max_run"), col("m.t").as("run_token"),
        ((-col("m.nr")) >= loopThreshold).as("is_loop"))
  }

  /** Per-(source, lang) corpus data card — the rollup that ships with a
    * training dataset (datasheet / data-statement tables): doc count,
    * token mass, quality distribution, char-length quantiles and the
    * exact-duplicate rate, all from ONE pass over the corpus.
    *
    * Plan shape: the quality features and the exact-dedup fingerprint
    * are computed in the same map-only projection ([[qualityFrame]]
    * with the fingerprint as a carry column), so the corpus is scanned
    * once and the card is one partial-aggregated groupBy over
    * |sources|×|langs| groups. Null text fingerprints fall back to the
    * doc id (the [[graft.ops.DedupOps.exactDedup]] policy: what can't
    * be compared never counts as a duplicate).
    */
  def dataCard(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               groupCols: Seq[String] = Seq("source", "lang")): org.apache.spark.sql.DataFrame = {
    val withFp = docs.withColumn("__fp",
      coalesce(fingerprint(col(textCol)), concat(lit("id:"), col(idCol).cast("string"))))
    val feats = qualityFrame(withFp, idCol, textCol, carryCols = groupCols :+ "__fp")
    feats.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("n_tokens"), lit(0L)).as("total_tokens"),
        // mean over EXACT integer units (score·10⁴ is integral by
        // construction): integer sums are order-independent, so the
        // boundary case avg = x.xxxx5 rounds identically in any engine
        round(sum(round(col("quality_score") * 10000).cast("long"))
          / (lit(10000.0) * count(lit(1))), 4).as("avg_quality"),
        round(percentile(col("n_chars"), lit(0.5)), 4).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.95)), 4).as("p95_chars"),
        round(lit(1.0) - count_distinct(col("__fp")).cast("double") / count(lit(1)), 4)
          .as("dup_rate"))
  }

  /** Per-group distinct-n lexical diversity — distinct-1 (type/token
    * ratio) and distinct-2 (distinct bigrams / bigram count): the
    * standard text-diversity diagnostic (low distinct-n → templated /
    * repetitive mass worth demoting; also the metric used to audit
    * synthetic-data generation for mode collapse).
    *
    * Plan shape: ONE explode pass per n (unigram terms; bigrams form
    * map-side by zipping the token array with its tail — no self-join),
    * each feeding a partial-aggregated per-group (distinct, total)
    * count. Output per group: (<groupCol>, n_tokens, distinct_1,
    * n_bigrams, distinct_2).
    */
  def distinctNgramDiversity(docs: org.apache.spark.sql.DataFrame,
                             groupCol: String = "source",
                             textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val base = DedupOps.widen(docs).select(col(groupCol).as("grp"), tokens(col(textCol)).as("__t"))
    val uni = base.select(col("grp"), explode_outer(col("__t")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_tokens"), count_distinct(col("term")).as("distinct_1"))
    val bi = base
      .select(col("grp"), explode_outer(
        zip_with(slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
          slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_bigrams"), count_distinct(col("bg")).as("distinct_2"))
    uni.join(bi, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_tokens"),
        round(col("distinct_1") / col("n_tokens"), 6).as("distinct_1"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(when(col("n_bigrams") > 0, col("distinct_2") / col("n_bigrams")).otherwise(0.0), 6)
          .as("distinct_2"))
  }

  /** Length-bucket batching report — the padding-waste audit for
    * bucketed batch assembly: documents bucket to the next power of two
    * of their token count (the static bucketing scheme), and each
    * bucket reports its doc count, token mass, batch count at
    * `batchSize`, and the padded-waste ratio 1 − tokens/(docs·bucket)
    * (what fraction of the padded tensor is padding).
    *
    * Bucket edges come from EXACT integer bit arithmetic
    * (1 << bitlength(n−1)) — no float log2, so a doc of exactly 2^k
    * tokens can't edge-drift across engines. Map-only bucket assign +
    * one rollup.
    */
  def lengthBucketReport(docs: org.apache.spark.sql.DataFrame, batchSize: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val n = size(tokens(col(textCol))).cast("long")
    // pow(2, bitlen) is exact in double for any realistic bucket; Spark's
    // shiftleft only takes a literal shift, so this is the column form
    val bucket = when(n <= 1, lit(1L))
      .otherwise(pow(lit(2.0), length(bin(n - 1))).cast("long"))
    DedupOps.widen(docs).filter(col(textCol).isNotNull)
      .select(n.as("__n"), bucket.as("bucket_tokens"))
      .filter(col("__n") > 0)
      .groupBy("bucket_tokens")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("total_tokens"))
      .select(col("bucket_tokens"), col("n_docs"), col("total_tokens"),
        ceil(col("n_docs") / lit(batchSize.toDouble)).cast("long").as("n_batches"),
        round(lit(1.0) - col("total_tokens") / (col("n_docs") * col("bucket_tokens")), 6)
          .as("pad_waste"))
  }

  /** n-gram novelty: the fraction of a document's DISTINCT character
    * n-grams that appear in NO other document — the cheap "how much of
    * this doc is new content vs corpus boilerplate" score used to
    * prioritize novel data and demote template mass (the inverse view
    * of line/span dedup: instead of removing the shared part, score
    * the unshared part).
    *
    * Plan shape: per-doc gram SETS come from the same map-only coded
    * byte-walk as [[graft.ops.DedupOps.jaccardVerify]] (base-38 long
    * codes, no per-gram strings); one explode feeds a partial-agg
    * doc-frequency count (gram sets are distinct per doc, so
    * `count(*)` IS document frequency), and one join + per-doc agg
    * scores the corpus. Two shuffles total, both on gram codes —
    * combiner-friendly, no pair work anywhere. `broadcastVocab =
    * false` (default) shuffles the df join by gram; at corpus scale
    * the distinct-gram table outgrows a broadcast fast.
    *
    * Output: (<idCol>, n_grams, n_novel, novelty∈[0,1] 4dp) for docs
    * with a non-null text (short texts carry their single padded-gram
    * window, as everywhere in the gram family).
    */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 3,
                   broadcastVocab: Boolean = false): org.apache.spark.sql.DataFrame = {
    val ex = DedupOps.codedGramSets(docs, idCol, textCol, n)
      .select(col("id").as(idCol), explode_outer(col("codes")).as("code"))
      .filter(col("code").isNotNull)
    val df0 = ex.groupBy("code").agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastVocab) broadcast(df0) else df0
    ex.join(dfreq, Seq("code"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel").cast("double") / col("n_grams"), 4))
  }

  /** Unigram language-model quality score: per-document mean token
    * surprisal `-log2 p(tok)` under the corpus's own unigram
    * distribution — the cheap KenLM-style proxy for "how typical is
    * this document's vocabulary" used to rank training data.
    *
    * Cross-engine determinism: per-token surprisal depends only on the
    * token's corpus count, so it is rounded to 6dp BEFORE averaging —
    * a last-ulp `log2` difference between engines dies there instead of
    * propagating into the mean (the [[tfIdfTopTerms]] lesson, applied
    * to an operator where log is the semantics and can't be replaced
    * by rational arithmetic).
    *
    * Scale shape: one explode pass with partial aggregation for counts;
    * the vocabulary (counts table) broadcasts while it fits — at
    * web-corpus scale pass `broadcastVocab = false` to let the join
    * shuffle by token instead. Output: (doc_id, n_tokens, avg_nll).
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     broadcastVocab: Boolean = true): org.apache.spark.sql.DataFrame = {
    val dt = DedupOps.widen(docs)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
    val tc0 = dt.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tc = if (broadcastVocab) broadcast(tc0) else tc0
    val tot = broadcast(tc0.agg(sum("cnt").as("total")))
    dt.join(tc, Seq("tok"))
      .crossJoin(tot)
      .select(col(idCol),
        round(-log2(col("cnt").cast("double") / col("total")), 6).as("nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("nll")), 4).as("avg_nll"))
  }

  /** CCNet-style perplexity buckets: split a scored corpus into
    * head / middle / tail by the terciles of its own LM surprisal
    * ([[unigramLogProb]]'s `avg_nll` or any comparable score) — the
    * standard "keep the head+middle, down-weight the tail" gate of
    * web-corpus curation. Takes the SCORED frame, not the raw docs, so
    * the expensive LM pass is computed (and persisted) once by the
    * caller — this op itself is one exact-percentile aggregate
    * broadcast back over the scores (the thresholds are two doubles;
    * the score frame's plan is referenced twice, which is why a heavy
    * unpersisted upstream belongs to the caller's persist decision).
    *
    * Output: input columns + `ppl_bucket` ('head' ≤ t1 < 'middle' ≤ t2
    * < 'tail'; exact interpolated terciles, DuckDB quantile_cont-equal).
    */
  def perplexityBuckets(scored: org.apache.spark.sql.DataFrame,
                        nllCol: String = "avg_nll"): org.apache.spark.sql.DataFrame = {
    val th = scored.agg(
      percentile(col(nllCol), lit(1.0 / 3)).as("__t1"),
      percentile(col(nllCol), lit(2.0 / 3)).as("__t2"))
    scored.crossJoin(broadcast(th))
      .withColumn("ppl_bucket",
        when(col(nllCol) <= col("__t1"), "head")
          .when(col(nllCol) <= col("__t2"), "middle")
          .otherwise("tail"))
      .drop("__t1", "__t2")
  }

  /** Bigram-LM quality score: per-doc mean surprisal of each adjacent
    * token pair under the corpus's own MLE bigram model,
    * `p(w2|w1) = c(w1 w2) / c(w1 ·)` with the context count summed over
    * bigram LEFT occurrences (probabilities sum to 1 per context; no
    * smoothing needed — every scored bigram exists in the counts by
    * construction). The conditional upgrade of [[unigramLogProb]]:
    * repeated-but-ordinary word sequences score low, improbable
    * transitions score high.
    *
    * Same determinism recipe as q70: per-bigram nll rounds to 6dp
    * before the mean. explode_outer + null filter (not plain explode)
    * keeps the token chain out of an inferred pre-Generate filter
    * (NOTES_r3 trap #7). Output: (doc_id, n_bigrams, avg_nll) for docs
    * with ≥ 2 tokens.
    */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    broadcastVocab: Boolean = true): org.apache.spark.sql.DataFrame = {
    val bg = DedupOps.widen(docs)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "), element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")).as("bgs"))
      .select(col(idCol), explode_outer(col("bgs")).as("b"))
      .filter(col("b").isNotNull)
    val cb0 = bg.groupBy("b").agg(count(lit(1)).as("cb"))
    val cb = if (broadcastVocab) broadcast(cb0) else cb0
    val c10 = cb0.groupBy(split(col("b"), " ").getItem(0).as("w1")).agg(sum("cb").as("c1"))
    val c1 = if (broadcastVocab) broadcast(c10) else c10
    bg.join(cb, Seq("b"))
      .join(c1, split(col("b"), " ").getItem(0) === col("w1"))
      .select(col(idCol),
        round(-log2(col("cb").cast("double") / col("c1")), 6).as("nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("avg_nll"))
  }

  def bpeMergePairs(docs: org.apache.spark.sql.DataFrame, textCol: String = "text",
                    topK: Int = 50): org.apache.spark.sql.DataFrame = {
    val words = DedupOps.widen(docs)
      .select(explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("weight"))
      .orderBy(col("weight").desc, col("pair").asc)
      .limit(topK)
  }

  /** Iterative BPE tokenizer TRAINING: `merges` rounds of
    * count-best-merge over the corpus vocabulary — [[bpeMergePairs]]'s
    * statistic applied repeatedly, i.e. the actual merge-table builder
    * a tokenizer ships with, not just the first-round report.
    *
    * Scale shape: ONE corpus-sized pass (explode→partial-agg word
    * frequencies); every round after runs over the DISTINCT vocabulary
    * only (Heaps-law sublinear in corpus size) — a pair count with
    * map-side partial aggregation, a 1-row collect for the best pair
    * (driver scalar, the k-means-centroid idiom), and a map-only merge
    * rewrite. Rounds never rescan the corpus. The vocab frame is
    * localCheckpoint'ed per round: each round references its
    * predecessor twice (pair count + rewrite) and lineage would
    * otherwise deepen by one rewrite per round.
    *
    * Merge semantics: words carry sentinel-spaced symbol strings
    * (" h e l l o "); a merge replaces " a b " with " ab " —
    * leftmost non-overlapping occurrences, identical in Spark and any
    * SQL `replace`. On runs of ≥ 3 repeats of the same symbol this
    * differs from HF-tokenizers' skip-after-merge walk by at most the
    * run's phase (documented variant; ties in real corpora are
    * dominated by the tie-break, which is (weight DESC, pair ASC) —
    * deterministic).
    *
    * Output: (step, pair, weight) — the ordered merge table.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String = "text",
               merges: Int = 6): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    var words = DedupOps.widen(docs)
      .select(explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("freq"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val best = words
        .select(col("freq"), split(trim(col("sym")), " ").as("t"))
        .select(col("freq"), explode_outer(
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              j => concat(element_at(col("t"), j), lit(" "), element_at(col("t"), j + 1))))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .filter(col("pair").isNotNull)
        .groupBy("pair").agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        out += ((step, pair, best(0).getLong(1)))
        words = words.select(
          call_function("replace", col("sym"),
            lit(" " + pair + " "), lit(" " + pair.replace(" ", "") + " ")).as("sym"),
          col("freq")).localCheckpoint(true)
      }
    }
    import spark.implicits._
    out.toSeq.toDF("step", "pair", "weight")
  }

  /** Top term-shift movers between two corpus slices — "what changed
    * lexically in this batch": per term the add-1-smoothed log-odds
    * ratio `ln(((cA+1)/(TA+V)) / ((cB+1)/(TB+V)))` between side A and
    * side B, ranked by |ratio| (ties to the lexicographically smaller
    * term). The per-term drill-down under the scalar PSI/KL drift
    * gates: PSI says THAT the distribution moved, this says WHICH
    * words moved it.
    *
    * Plan shape: one conditional-sum explode pass builds both sides'
    * counts (the slices are never scanned separately); totals and the
    * vocabulary size derive from it; the rank runs over vocab-sized
    * counts (the q152 take-ordered discipline). Ratios round 6dp
    * before ranking, so the kept set is engine-stable.
    *
    * Output: (term, c_a, c_b, log_ratio, rank ≤ topK).
    */
  def termShift(docs: org.apache.spark.sql.DataFrame, sideA: Column,
                topK: Int = 20, idCol: String = "doc_id",
                textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val counts = DedupOps.widen(docs.filter(col(textCol).isNotNull))
      .select(sideA.as("__a"), explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("c_b"))
      .localCheckpoint(true) // totals + the scored rank both read it
    val tot = broadcast(counts.agg(sum("c_a").as("__ta"), sum("c_b").as("__tb"),
      count(lit(1)).as("__v")))
    val scored = counts.crossJoin(tot)
      .select(col("term"), col("c_a"), col("c_b"),
        round(log(((col("c_a") + 1) / (col("__ta") + col("__v")).cast("double"))
          / ((col("c_b") + 1) / (col("__tb") + col("__v")).cast("double"))), 6)
          .as("log_ratio"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(abs(col("log_ratio")).desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Flesch reading-ease per document — the classic rule-based
    * readability score, `206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`, with the standard cheap proxies:
    * syllables ≈ vowel-group count (`[aeiouy]+` runs), sentences ≈
    * terminal-punctuation runs floored at 1. Map-only (two regexp
    * counts + the token count per row — stays in codegen, no shuffle);
    * both proxies and the formula replay verbatim in SQL.
    *
    * Output per doc with ≥ 1 token: (doc_id, n_words, n_syllables,
    * n_sentences, flesch) — flesch rounded 4dp, uncapped (the raw
    * formula range, per the original definition).
    */
  def readabilityFrame(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_words"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long").as("n_syllables"),
        greatest(lit(1L), regexp_count(col(textCol), lit("[.!?]+")).cast("long")).as("n_sentences"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))

  /** Per-source surprisal outliers — the loss-spike detector of corpus
    * QC: docs whose LM surprisal sits ≥ `zThreshold` standard
    * deviations from their OWN source's mean (a doc that is ordinary
    * for src_web may be an anomaly inside src_books). Takes the SCORED
    * frame ([[unigramLogProb]] output or any (id, score) frame) so the
    * expensive LM pass stays with the caller ([[perplexityBuckets]]'s
    * contract).
    *
    * Determinism: the 4dp scores quantize to integer 1e-4 units; the
    * per-group Σx and Σx² bank exactly (Σx² in 128-bit — decimal here,
    * HUGEINT in the oracle — so no 64-bit ceiling on group size), and
    * mean/std/z then derive by the IDENTICAL double expression in both
    * engines. z rounds 4dp BEFORE the threshold filter, so the kept
    * set is engine-stable at the boundary. Groups with n < 2 or zero
    * variance emit nothing (no z is defined).
    *
    * Plan shape: one group-keyed stats aggregate (|groups| rows,
    * broadcast back) over the joined frame, which is checkpointed —
    * stats and the z projection both read it.
    *
    * Output: (<idCol>, <groupCol>, <scoreCol>, z) for |z| ≥ threshold.
    */
  def surprisalOutliers(scored: org.apache.spark.sql.DataFrame,
                        groups: org.apache.spark.sql.DataFrame,
                        zThreshold: Double = 2.0, idCol: String = "doc_id",
                        groupCol: String = "source",
                        scoreCol: String = "avg_nll"): org.apache.spark.sql.DataFrame = {
    val j = scored.select(col(idCol), col(scoreCol))
      .join(groups.select(col(idCol), col(groupCol)), Seq(idCol))
      .withColumn("__x4", round(col(scoreCol) * 1e4).cast("long"))
      .localCheckpoint(true) // stats + the z projection both read it
    val stats = j.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"), sum("__x4").as("__s"),
        sum((col("__x4") * col("__x4")).cast("decimal(38,0)")).as("__s2"))
      .filter(col("__n") >= 2)
      .select(col(groupCol), col("__n"), col("__s"),
        ((col("__s2").cast("double") * col("__n") - col("__s").cast("double") * col("__s"))
          / (col("__n").cast("double") * col("__n") * (col("__n") - 1))).as("__var8"))
      .filter(col("__var8") > 0)
    j.join(broadcast(stats), Seq(groupCol))
      .withColumn("z",
        round((col("__x4") - col("__s").cast("double") / col("__n")) / sqrt(col("__var8")), 4))
      .filter(abs(col("z")) >= zThreshold)
      .select(col(idCol), col(groupCol), col(scoreCol), col("z"))
  }

  /** Stupid-Backoff bigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the smoothing that made
    * count-based LMs work at web scale precisely BECAUSE it is pure
    * count arithmetic (no discount fitting): score a held-out document
    * under counts trained on the rest of the corpus,
    * `S(w2|w1) = c(w1 w2)/c(w1 ·)` when the bigram was seen, else
    * `α · c(w2)/T` (α = 0.4), with an unseen-unigram floor of count 1.
    * Unlike [[bigramLogProb]] (which scores the corpus under its own
    * counts, so the backoff path never fires), the train/test split
    * makes unseen bigrams REAL — `n_backoff` measures exactly how often
    * the model fell through.
    *
    * Plan shape: the train split is exploded once for bigram counts
    * (context counts derive from them — no second pass) and once for
    * unigram counts; the held-out split explodes once and left-joins
    * the three count tables (broadcast by default, with the family's
    * shuffle escape hatch for vocabularies past broadcast range).
    * Per-bigram nll rounds 6dp before the 4dp mean (q70/q84 recipe).
    *
    * Output per held-out doc with ≥ 2 tokens: (doc_id, n_bigrams,
    * n_backoff, avg_nll).
    */
  def stupidBackoffLm(docs: org.apache.spark.sql.DataFrame, holdoutMod: Int = 5,
                      alpha: Double = 0.4, idCol: String = "doc_id",
                      textCol: String = "text",
                      broadcastVocab: Boolean = true): org.apache.spark.sql.DataFrame = {
    def bigrams(df: org.apache.spark.sql.DataFrame) = DedupOps.widen(df)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "), element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")).as("bgs"))
      .select(col(idCol), explode_outer(col("bgs")).as("b"))
      .filter(col("b").isNotNull)
    val base = docs.filter(col(textCol).isNotNull)
    val train = base.filter(pmod(col(idCol), lit(holdoutMod)) =!= 0)
    val test = base.filter(pmod(col(idCol), lit(holdoutMod)) === 0)
    val cb0 = bigrams(train).groupBy("b").agg(count(lit(1)).as("cb"))
      .localCheckpoint(true) // context counts + the scoring join both read it
    val c10 = cb0.groupBy(split(col("b"), " ").getItem(0).as("w1")).agg(sum("cb").as("c1"))
    val cu0 = DedupOps.widen(train)
      .select(explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val (cb, c1, cu) =
      if (broadcastVocab) (broadcast(cb0), broadcast(c10), broadcast(cu0))
      else (cb0, c10, cu0)
    val tot = broadcast(cu0.agg(sum("cu").as("t_toks")))
    bigrams(test)
      .join(cb, Seq("b"), "left")
      .join(c1, split(col("b"), " ").getItem(0) === col("w1"), "left")
      .join(cu, split(col("b"), " ").getItem(1) === col("term"), "left")
      .crossJoin(tot)
      .select(col(idCol), col("cb").isNull.as("backoff"),
        round(-log2(
          when(col("cb").isNotNull, col("cb").cast("double") / col("c1"))
            .otherwise(lit(alpha) * coalesce(col("cu"), lit(1L)) / col("t_toks"))), 6).as("nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("backoff"), 1L).otherwise(0L)).as("n_backoff"),
        round(avg(col("nll")), 4).as("avg_nll"))
  }

  /** Kneser–Ney bigram LM over a train/held-out split — the
    * industry-standard smoothing tier above [[stupidBackoffLm]]:
    * absolute discounting (d = 3/4) redistributes mass through the
    * CONTINUATION probability (how many contexts a word completes,
    * not how often it occurs), which is what makes "francisco" rare
    * as a continuation despite being frequent after "san".
    *
    *   P(w|v) = [max(4·c(vw)−3, 0)·N₁₊(··) + 3·N₁₊(v·)·N₁₊(·w)]
    *            / [4·c(v)·N₁₊(··)]           (seen context)
    *   P(w|v) = N₁₊(·w) / N₁₊(··)            (unseen context)
    *
    * d = 3/4 keeps every count term an exact integer (×4 banking), so
    * P's numerator and denominator are integers in both engines and
    * only the final division and log2 are floating-point (the q158
    * discipline). Zero-probability events (unseen continuation) are
    * excluded from the average and surfaced as `n_zero`.
    *
    * Plan shape: bigram counts once (checkpointed — context stats,
    * continuation stats, type count and the scoring join all read
    * them); model tables broadcast (`broadcastVocab=false` escape
    * hatch, as q70/q84); scoring is three broadcast joins over the
    * held-out bigrams.
    *
    * Output per held-out doc: (idCol, n_bigrams, n_ctx_unseen,
    * n_zero, avg_nll) — avg_nll in bits over P>0 events, 4dp.
    */
  def kneserNeyLm(docs: DataFrame, holdoutMod: Int = 5, idCol: String = "doc_id",
                  textCol: String = "text",
                  broadcastVocab: Boolean = true): DataFrame = {
    def bigrams(df: DataFrame) = DedupOps.widen(df)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "), element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")).as("bgs"))
      .select(col(idCol), explode_outer(col("bgs")).as("b"))
      .filter(col("b").isNotNull)
    val base = docs.filter(col(textCol).isNotNull)
    val train = base.filter(pmod(col(idCol), lit(holdoutMod)) =!= 0)
    val test = base.filter(pmod(col(idCol), lit(holdoutMod)) === 0)
    val cb0 = bigrams(train).groupBy("b").agg(count(lit(1)).as("cb"))
      .localCheckpoint(true) // ctx stats + continuation stats + nbb + scoring all read it
    val ctx0 = cb0.groupBy(split(col("b"), " ").getItem(0).as("w1"))
      .agg(sum("cb").as("c1"), count(lit(1)).as("n1v"))
    val cont0 = cb0.groupBy(split(col("b"), " ").getItem(1).as("w2"))
      .agg(count(lit(1)).as("n1w"))
    val (cbT, ctxT, contT) =
      if (broadcastVocab) (broadcast(cb0), broadcast(ctx0), broadcast(cont0))
      else (cb0, ctx0, cont0)
    val nbb = broadcast(cb0.agg(count(lit(1)).as("nbb")))
    val seenNum = greatest(lit(0L), coalesce(col("cb"), lit(0L)) * 4 - 3) * col("nbb") +
      lit(3L) * col("n1v") * coalesce(col("n1w"), lit(0L))
    val seenDen = lit(4L) * col("c1") * col("nbb")
    val p = when(col("c1").isNotNull, seenNum.cast("double") / seenDen.cast("double"))
      .otherwise(coalesce(col("n1w"), lit(0L)).cast("double") / col("nbb").cast("double"))
    bigrams(test)
      .join(cbT, Seq("b"), "left")
      .join(ctxT, split(col("b"), " ").getItem(0) === col("w1"), "left")
      .join(contT, split(col("b"), " ").getItem(1) === col("w2"), "left")
      .crossJoin(nbb)
      .select(col(idCol), col("c1").isNull.as("__ctxu"), p.as("__p"))
      .select(col(idCol), col("__ctxu"), (col("__p") === 0.0).as("__zero"),
        when(col("__p") > 0, round(-log2(col("__p")), 6)).as("__nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__ctxu"), 1L).otherwise(0L)).as("n_ctx_unseen"),
        sum(when(col("__zero"), 1L).otherwise(0L)).as("n_zero"),
        round(avg(col("__nll")), 4).as("avg_nll"))
  }

  /** BPE tokenizer APPLICATION — the deployment half of [[bpeTrain]]:
    * segment every document under a trained merge table and report the
    * per-document subword economics (the numbers a token-budget pass
    * like `SampleOps.tokenBudgetPack` actually prices with).
    *
    * Scale shape: the merge rewrites run over the DISTINCT vocabulary
    * only (Heaps-law sublinear in corpus size), and — unlike training,
    * which needs a driver round-trip per merge — application has no
    * data dependence between rounds, so the whole merge table composes
    * into ONE nested map-only replace chain (stays in whole-stage
    * codegen, no action, no checkpoint). The corpus is touched twice:
    * the vocab distinct and the word→subword-count join (shuffles on
    * the word key).
    *
    * Merge semantics are [[bpeTrain]]'s exactly: sentinel-spaced symbol
    * strings, leftmost non-overlapping `replace`, merges applied in
    * table order.
    *
    * Output: (<idCol>, n_words, n_subwords) per document with ≥ 1
    * token.
    */
  def bpeApply(docs: org.apache.spark.sql.DataFrame, mergePairs: Seq[String],
               idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val docw = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("did"), explode(tokens(col(textCol))).as("w"))
    val symInit = concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))
    val symFinal = mergePairs.foldLeft(symInit) { (s, pair) =>
      call_function("replace", s,
        lit(" " + pair + " "), lit(" " + pair.replace(" ", "") + " "))
    }
    val sub = docw.select("w").distinct()
      .select(col("w"), size(split(trim(symFinal), " ")).as("n_sub"))
    docw.join(sub, Seq("w"))
      .groupBy("did")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).cast("long").as("n_subwords"))
      .select(col("did").as(idCol), col("n_words"), col("n_subwords"))
  }

  /** Head/tail fingerprint dedup families: documents sharing their
    * first `k` tokens (prefix families — wire-update / truncation
    * variants of one article) or last `k` (suffix families — shared
    * sign-off boilerplate), versus byte-exact duplication. The tier
    * BETWEEN exact dedup (q20, whole text) and near-dup (q21): a doc
    * extended by one paragraph defeats the exact hash and may sit
    * under the MinHash threshold, but its head fingerprint still
    * matches.
    *
    * Verdict precedence: exact_dup > prefix_dup > suffix_dup > unique
    * (an exact dup is trivially both). Zero-token docs key to
    * themselves (the q20 null-content rule — never collapse what
    * can't be compared).
    *
    * Plan shape: three map-side fingerprints from one tokens pass,
    * three hash-aggregate group sizes joined back on their keys — the
    * exact-dedup shape ×3, no windows, no pair joins. Output:
    * (<idCol>, n_exact_mates, n_head_mates, n_tail_mates, verdict).
    */
  def headTailDupFrame(docs: org.apache.spark.sql.DataFrame, k: Int = 32,
                       idCol: String = "doc_id",
                       textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val tk = tokens(col(textCol))
    val selfKey = concat(lit("id:"), col(idCol).cast("string"))
    def guard(fp: Column): Column = when(size(tk) > 0, fp).otherwise(selfKey)
    val keyed = graft.ops.DedupOps.widen(docs, heavy = false)
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        guard(md5(concat_ws(" ", tk))).as("__efp"),
        guard(md5(concat_ws(" ", slice(tk, 1, k)))).as("__hfp"),
        guard(md5(concat_ws(" ", slice(tk, greatest(size(tk) - (k - 1), lit(1)), lit(k))))).as("__tfp"))
      .localCheckpoint(true) // three group-size aggregates + the join-back all read it
    def sizes(c: String, out: String): org.apache.spark.sql.DataFrame =
      keyed.groupBy(c).agg(count(lit(1)).as(out))
    keyed
      .join(sizes("__efp", "n_exact_mates"), Seq("__efp"))
      .join(sizes("__hfp", "n_head_mates"), Seq("__hfp"))
      .join(sizes("__tfp", "n_tail_mates"), Seq("__tfp"))
      .select(col(idCol), col("n_exact_mates"), col("n_head_mates"), col("n_tail_mates"),
        when(col("n_exact_mates") > 1, "exact_dup")
          .when(col("n_head_mates") > 1, "prefix_dup")
          .when(col("n_tail_mates") > 1, "suffix_dup")
          .otherwise("unique").as("verdict"))
  }

  /** Per-group percentile normalization: each row's value mapped to
    * its exact midrank percentile WITHIN its group — the quantile-
    * matching step that makes one quality threshold meaningful across
    * sources whose raw score distributions differ (a 0.6 in src3 may
    * be its 90th percentile, in src7 its 40th). Midrank pct =
    * (2·cum_upto − count_at) / (2·n), computed as an exact rational
    * on a per-(group, value) HISTOGRAM — the q150 discipline: the
    * cumulative window runs over distinct 1e-4-banked values per
    * group, never a per-row rank over the corpus; rows get their
    * percentile by joining back on the banked value.
    *
    * Output: (id, group, value 4dp, pct 6dp).
    */
  def percentileNormalize(scored: DataFrame, idCol: String = "doc_id",
                          groupCol: String = "source",
                          valueCol: String = "quality_score"): DataFrame = {
    val banked = scored.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol).as("g"),
        round(col(valueCol) * 1e4).cast("long").as("__v4"))
      // q104 contract: the histogram AND the join-back both read this
      // frame, and the caller's valueCol is typically an expensive
      // scoring expression — checkpoint the compact (id, g, v4) rows
      // rather than score the corpus twice (17.7s -> 8.5s at ×10)
      .localCheckpoint(true)
    val hist = banked.groupBy("g", "__v4").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("__v4")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = hist.groupBy("g").agg(sum("__c").as("__n"))
    val pcts = hist
      .withColumn("__cum", sum("__c").over(w))
      .join(broadcast(tot), Seq("g"))
      .select(col("g"), col("__v4"),
        round((lit(2L) * col("__cum") - col("__c")).cast("double")
          / (lit(2L) * col("__n")), 6).as("pct"))
    banked.join(broadcast(pcts), Seq("g", "__v4")) // histogram-sized side
      .select(col(idCol), col("g").as(groupCol),
        round(col("__v4") / 1e4, 4).as(valueCol), col("pct"))
  }

  /** Negative-sampling distribution (word2vec's unigram^0.75): each
    * term weighted by count^power, normalized — flattening the Zipf
    * head so frequent words don't monopolize the negatives. Emits the
    * top-K rows of the alias-style table PLUS one residual `<other>`
    * row carrying the remaining tail mass with cum_p = 1, so the
    * cumulative ranges cover all of [0, 1) and a sampler
    * binary-searching a uniform draw always lands on a row (a draw in
    * the residual range means "sample outside the head table").
    * Weights bank as integer 1e-6 units after the single pow call, so
    * the normalizer and the cumulative ranges are exact-integer sums.
    *
    * Plan shape: one count aggregate (checkpointed — normalizer +
    * top-K both read it), take-ordered K rows, the cumulative window
    * over K rows only; the residual row is two broadcast scalars.
    *
    * Output: (term, n, p 6dp, cum_p 6dp, rank); the residual row is
    * (`<other>`, tail count, tail mass, 1.0, K+1), omitted when the
    * vocabulary fits inside K.
    */
  def negativeSamplingTable(docs: DataFrame, topK: Int = 50, power: Double = 0.75,
                            textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // normalizer + the top-K pass both read it
    val weighted = counts.select(col("term"), col("n"),
      round(pow(col("n").cast("double"), lit(power)) * 1e6).cast("long").as("__w6"))
    val tot = broadcast(weighted.agg(sum("__w6").as("__tw"), sum("n").as("__totn")))
    val top = weighted.orderBy(col("n").desc, col("term").asc).limit(topK)
      .localCheckpoint(true) // head rows + the residual aggregate both read it
    val ord = Window.orderBy(col("n").desc, col("term").asc)
    val head = top.crossJoin(tot)
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("p", round(col("__w6") / col("__tw").cast("double"), 6))
      .withColumn("cum_p", round(
        sum("__w6").over(ord.rowsBetween(Window.unboundedPreceding, 0))
          / col("__tw").cast("double"), 6))
      .select(col("term"), col("n"), col("p"), col("cum_p"), col("rank"))
    // `<other>` cannot collide with a real term: tokens() never emits
    // angle brackets
    val residual = top
      .agg(sum("__w6").as("__topw"), sum("n").as("__topn"),
        count(lit(1)).cast("int").as("__k"))
      .crossJoin(tot)
      .filter(col("__totn") > col("__topn"))
      .select(lit("<other>").as("term"),
        (col("__totn") - col("__topn")).as("n"),
        round((col("__tw") - col("__topw")) / col("__tw").cast("double"), 6).as("p"),
        lit(1.0).as("cum_p"),
        (col("__k") + 1).as("rank"))
    head.unionByName(residual)
  }

  /** Zipf-law fit: OLS slope of log-frequency vs log-rank over the
    * top-K terms — [[heapsLawCurve]]'s companion law (a natural corpus
    * sits near slope −1; template/boilerplate corpora flatten, spam
    * steepens). Ranks come from ONE take-ordered top-K (ties by term;
    * the rank window runs over K rows only); logs bank as integer
    * 1e-9 nanolog units, moments accumulate as exact decimals, and the
    * slope/R² are the only floating-point steps.
    *
    * Output: one row (n_terms, slope 4dp, r2 4dp).
    */
  def zipfFit(docs: DataFrame, topK: Int = 100, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val ord = Window.orderBy(col("n").desc, col("term").asc)
    val top = counts.orderBy(col("n").desc, col("term").asc).limit(topK)
      .withColumn("rank", row_number().over(ord))
    def d(c: Column) = c.cast("decimal(38,0)")
    val pts = top.select(
      round(log(col("rank").cast("double")) * 1e9).cast("long").as("__x"),
      round(log(col("n").cast("double")) * 1e9).cast("long").as("__y"))
    pts.agg(count(lit(1)).as("n_terms"),
        sum(d(col("__x"))).as("__sx"), sum(d(col("__y"))).as("__sy"),
        sum(d(col("__x")) * d(col("__x"))).as("__sxx"),
        sum(d(col("__y")) * d(col("__y"))).as("__syy"),
        sum(d(col("__x")) * d(col("__y"))).as("__sxy"))
      .select(col("n_terms"),
        (col("n_terms") * col("__sxy") - col("__sx") * col("__sy")).cast("double").as("__num"),
        (col("n_terms") * col("__sxx") - col("__sx") * col("__sx")).cast("double").as("__vx"),
        (col("n_terms") * col("__syy") - col("__sy") * col("__sy")).cast("double").as("__vy"))
      .select(col("n_terms"),
        round(col("__num") / col("__vx"), 4).as("slope"),
        when(col("__vy") > 0,
          round(col("__num") * col("__num") / (col("__vx") * col("__vy")), 4))
          .otherwise(lit(null)).as("r2"))
  }

  /** Trigram posting list of a corpus: one (doc, gram) row per
    * DISTINCT lowercase character trigram — the inverted index behind
    * substring search at corpus scale (the pg_trgm / code-search
    * design). Build once, partition by gram; a `%pattern%` query then
    * reads |pattern| posting lists instead of scanning every document.
    */
  def trigramPostings(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), lower(col(textCol)).as("__lt"))
      // texts under 3 chars have no trigram; without the guard,
      // sequence(1, 0) steps DOWN to [1, 0] (Spark defaults the step
      // to -1 when start > stop) and emits bogus 0–2 char "grams" —
      // SQL dialects whose generate_series(1, 0) is empty diverge
      .filter(length(col("__lt")) >= 3)
      .select(col(idCol), explode(array_distinct(expr(
        "transform(sequence(1, length(__lt) - 2), i -> substr(__lt, i, 3))")))
        .as("gram"))

  /** Substring search through the trigram index: candidates are the
    * docs containing EVERY trigram of the (lowercased) pattern — an
    * IN-list scan of |pattern| posting lists + one count aggregate —
    * and only candidates pay the exact `contains` verify. No false
    * negatives (a true match contains all its trigrams); false
    * positives (grams present, contiguity broken) die in the verify.
    * Patterns shorter than 3 chars fall back to the full scan the
    * index cannot help with.
    *
    * Output: (id, first_pos) — 1-based position of the first match.
    */
  def trigramSearch(docs: DataFrame, pattern: String, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val p = pattern.toLowerCase
    val verify = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), instr(lower(col(textCol)), p).as("first_pos"))
    if (p.length < 3) return verify.filter(col("first_pos") > 0)
    val grams = p.sliding(3).toSeq.distinct
    // r15 pre-screen (guide §2.3 — cut work before the exchange): a doc
    // can only be a candidate if it CONTAINS every pattern gram, and
    // for 3-char grams `contains` ≡ gram ∈ the doc's distinct-trigram
    // set, so this map-only conjunction passes EXACTLY the candidate
    // set. The posting-list build (L−2 substrings + array_distinct +
    // explode per doc) and the hit-count exchange then run over true
    // candidates only instead of the whole corpus — the same
    // no-false-negative screen a prebuilt index's posting read gives.
    val screened = docs.filter(col(textCol).isNotNull)
      .filter(grams.map(g => lower(col(textCol)).contains(g)).reduce(_ && _))
    val cand = trigramPostings(screened, idCol, textCol)
      .filter(col("gram").isin(grams: _*))
      .groupBy(idCol).agg(count(lit(1)).as("__hits")) // postings are distinct per doc
      .filter(col("__hits") === grams.size)
      .select(idCol)
    verify.join(cand, Seq(idCol)).filter(col("first_pos") > 0)
  }
}
