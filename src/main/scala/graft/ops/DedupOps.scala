package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), MinHash+LSH banding, SimHash,
  * n-gram Jaccard verification, embedding-cosine near-dup.
  *
  * Scale design: signature computation is map-only per-row expression
  * work (no UDFs — everything stays in codegen); candidate generation
  * shuffles once on the band/bucket key (tiny keys, combiner-friendly);
  * only candidate PAIRS (a vanishing fraction of n²) reach the
  * verification join. This is the standard shape that survives 100 TB:
  * no all-pairs product ever materializes.
  */
object DedupOps {

  /** Exact dedup on the normalized-content fingerprint: one row per
    * distinct content, keeping the smallest id; `dup_count` reports
    * group size. Single hash aggregate.
    */
  /** Soft dedup: instead of DROPPING duplicates ([[exactDedup]]'s
    * keep-one policy), keep every row and emit a sampling weight
    * 1/|group| so each distinct content contributes unit mass to the
    * training mixture — the downweight-don't-delete discipline for
    * corpora where duplication frequency itself carries signal.
    *
    * Same fingerprint policy as [[exactDedup]] (null text keys to the
    * doc id — uncomparable rows are singletons, weight 1). Plan shape:
    * ONE fp-keyed window count — the fingerprint scan runs once and
    * the only shuffle is the key exchange (the aggregate-plus-join-back
    * form re-ran the md5 scan on both join sides: measured 1.8 s → 0.6 s
    * at sf0.1 for identical rows). Output: (doc_id, group_size, weight).
    */
  def softDedupWeights(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val keyed = widen(docs, heavy = false).select(
      coalesce(TextOps.fingerprint(col(textCol)),
        concat(lit("id:"), col(idCol).cast("string"))).as("fp"),
      col(idCol))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    keyed.withColumn("group_size", count(lit(1)).over(w))
      .select(col(idCol), col("group_size"),
        round(lit(1.0) / col("group_size"), 6).as("weight"))
  }

  /** Marginal-novelty curve — simulate corpus growth in `buckets`
    * equal random increments (hash-sliced, layout-independent) and
    * report, per increment, how many of its documents carry
    * FIRST-SEEN content: the data-scaling diagnostic ("is the next
    * crawl slice still adding new material, or only duplicates").
    *
    * One fingerprint scan feeds a single (fp, bucket) aggregate; both
    * rollups (bucket sizes, first-seen counts) derive from it — the
    * corpus is never re-hashed. The cumulative-distinct window runs
    * over `buckets` rows. Output per bucket: (bucket, n_docs, new_fps,
    * novelty_rate, cum_distinct_share).
    */
  def noveltyCurve(docs: DataFrame, buckets: Int = 4, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val keyed = widen(docs, heavy = false).select(
      coalesce(TextOps.fingerprint(col(textCol)),
        concat(lit("id:"), col(idCol).cast("string"))).as("fp"),
      SampleOps.hashBucket(col(idCol), buckets).cast("int").as("bucket"))
    val gb = keyed.groupBy("fp", "bucket").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val sizes = gb.groupBy("bucket").agg(sum("c").as("n_docs"))
    val firsts = gb.groupBy("fp").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_fps"))
    val totalDistinct = broadcast(firsts.agg(sum("new_fps").as("td")))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    sizes.join(firsts, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), coalesce(col("new_fps"), lit(0L)).as("new_fps"))
      .crossJoin(totalDistinct)
      .withColumn("novelty_rate", round(col("new_fps") / col("n_docs"), 6))
      .withColumn("cum_distinct_share", round(sum("new_fps").over(w) / col("td"), 6))
      .drop("td")
  }

  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    widen(docs, heavy = false).select(
        // null text (multimodal rows): no content to compare — key each
        // doc to itself so distinct docs never collapse into one group
        coalesce(TextOps.fingerprint(col(textCol)),
          concat(lit("id:"), col(idCol).cast("string"))).as("fp"),
        col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Character k-shingles of the normalized text. `distinct = false`
    * skips the string dedup — correct for MinHash (the min over a
    * multiset equals the min over its set); keep `true` where set
    * semantics matter (Jaccard intersection/union sizes).
    *
    * PERF NOTE: higher-order functions are interpreted and re-evaluate
    * captured non-attribute expressions per element — `text` must be a
    * plain column (or cheap), never an expensive derived expression. The
    * hot paths below avoid this form entirely via [[explodedShingles]].
    */
  def shingles(text: Column, k: Int = 8, distinct: Boolean = true): Column = {
    val norm = TextOps.normalized(text)
    val arr = transform(sequence(lit(1), greatest(length(norm) - k + 1, lit(1))),
      i => norm.substr(i, lit(k)))
    val body = if (distinct) array_distinct(arr) else arr
    when(length(norm) < k, array(norm)).otherwise(body)
  }

  /** (id, shingle) rows: normalization materialized ONCE per document as
    * a real column, positions exploded, substr per row — everything stays
    * in whole-stage codegen and scales linearly. This is the shape every
    * shingle consumer should build on at 100 TB.
    */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val n = widen(docs).select(col(idCol).as("id"), TextOps.normalized(col(textCol)).as("norm"))
    n.select(col("id"), col("norm"),
        explode(sequence(lit(1), greatest(length(col("norm")) - (k - 1), lit(1)))).as("i"))
      .select(col("id"), col("norm").substr(col("i"), lit(k)).as("sh"))
  }

  /** Spread a narrow input (e.g. one small parquet file) across the
    * cluster before per-row heavy compute. A wide input (real datasets at
    * scale already have thousands of splits) passes through untouched —
    * no gratuitous shuffle.
    *
    * `heavy = true` (shingle/token explosion: compute amplified ~100×
    * per input byte) always spreads a narrow input. `heavy = false`
    * (one pass over each row) spreads only when the input is big enough
    * that single-threaded map work would dominate the repartition
    * shuffle — below that the shuffle costs more than it saves.
    */
  private[ops] def widen(df: DataFrame, heavy: Boolean = true): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (heavy) df.repartition(p)
    else {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (bytes > (32L << 20)) df.repartition(p) else df
    }
  }

  /** MinHash prime modulus and per-permutation universal-hash
    * coefficients `h_i(x) = (a_i * x + b_i) mod P` with P the first prime
    * above 2^32. Base "hashes" are the base-38 shingle CODES themselves
    * (bijective with the shingles — see
    * [[graft.functions.ShingleCodes]]): the universal-hash permutations
    * supply all the randomization MinHash needs, so the chain carries no
    * cryptographic digest at all.
    */
  val MinHashP: Long = graft.functions.ShingleCodes.MinHashP
  def minHashCoeffs(i: Int): (Long, Long) = graft.functions.ShingleCodes.minHashCoeffs(i)

  /** MinHash signature from a base-hash/code array: minimum of each
    * universal-hash permutation. Composable form (interpreted
    * higher-order functions) — the hot path uses the one-pass native
    * [[graft.functions.ShingleExprs.minHashSig]] instead.
    */
  def minHashSignature(baseHashes: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map { i =>
      val (a, b) = minHashCoeffs(i)
      array_min(transform(baseHashes, h => (h * a + b) % MinHashP))
    }: _*)

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`,
    * each hashed to one bucket key. Docs sharing ANY band key are candidates.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val sl = slice(signature, b * rowsPerBand + 1, rowsPerBand)
      concat_ws("|", lit(b.toString) +: (0 until rowsPerBand).map(r => element_at(sl, r + 1)): _*)
    }: _*)

  /** MinHash-LSH candidate pairs: explode band keys, self-join within
    * buckets (the only shuffle — on short band-key strings), emit each
    * pair once (a < b) with the estimated Jaccard = matching signature
    * fraction. `minhashSim` filters the estimate.
    */
  def minHashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        numHashes: Int = 16, bands: Int = 4, minhashSim: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    // one-pass native signature: a single byte-walk per document
    // computes all permutation minima over rolling base-38 shingle
    // codes — no per-shingle digest, no explode, no aggregation
    // shuffle. Signatures are map-only; the band self-join below is
    // the chain's ONLY shuffle.
    // null text (multimodal rows) has no content to near-dup against:
    // excluded here exactly as the old explode path dropped such rows
    val banded = bandedFrame(docs, idCol, textCol, numHashes, bands)
    val a = banded.select(col("band"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("id").as("id_b"), col("sig").as("sig_b"))
    // join strategy stays AQE's choice: a broadcast build side does
    // re-execute the sig pipeline, but forcing shuffle_hash measured
    // slower overall (downstream q37 2.8s -> 4.1s at sf0.1) — and at
    // scale the banded side exceeds broadcast thresholds, where AQE
    // picks a shuffle join whose identical per-side subplans dedupe via
    // ReuseExchange anyway
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), (b => b)))
          / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minhashSim) // filter before dedup: smaller distinct
      .distinct()
  }

  /** EXACT set-similarity self-join by prefix filtering (the
    * PPJoin-family shape, cf. Xiao et al. WWW'08 "Efficient Similarity
    * Joins for Near Duplicate Detection") — the NO-FALSE-NEGATIVE
    * complement to MinHash: every pair with item-set Jaccard ≥
    * `tNum/tDen` is guaranteed in the output (probabilistic banding
    * can miss; prefix filtering cannot). The filter: order every doc's
    * distinct items rarest-first (global df, item tiebreak) and keep
    * only the first `n − ⌈t·n⌉ + 1` as its PREFIX — two sets with
    * Jaccard ≥ t MUST share a prefix token, so candidates come from a
    * prefix-token equi-join instead of all pairs, and rare tokens
    * (tiny df) dominate prefixes, keeping buckets small.
    *
    * Exactness discipline: the threshold is a RATIONAL (tNum/tDen) and
    * both the prefix length (`n − (tNum·n + tDen−1) div tDen + 1`) and
    * the verify (`inter·tDen ≥ tNum·(union)`) are pure integer
    * arithmetic — no float ceil (0.6·5 = 3.0000000000000004 would
    * ceil to 4 and silently shrink prefixes), no rounding boundary in
    * the kept set. The reported jaccard column is 4dp display only.
    *
    * The item universe is the SAME distinct 8-char shingles of the
    * normalized text the MinHash screen hashes — so the jaccard here
    * is the EXACT value `est_jaccard` estimates, and this operator is
    * the screen's ground-truth complement on its own similarity
    * definition. A big shingle universe is also what makes prefix
    * filtering bite: with items this rare, a doc's prefix shingles
    * collide with almost nobody (a small-universe item set — unigrams
    * on a tight vocabulary — saturates every bucket and degenerates
    * toward all-pairs).
    *
    * Plan shape: ONE distinct-shingle explode feeds everything (df
    * counts, the rarity ordering, and the per-doc sorted arrays —
    * checkpointed, three readers); the rarity rank is one per-doc
    * window; pair work is confined to prefix-item collisions AND the
    * PPJoin length filter (|A|·t ≤ |B| ≤ |A|/t rides the join — a
    * 10-shingle doc never pairs with a 1000-shingle doc); verify is a
    * per-pair sorted-array intersect. At a high threshold the prefix
    * is short and rare-item buckets are small — the regime where this
    * beats LSH on both cost and recall.
    *
    * Scale contract (the q98 audit/screen division): the
    * no-false-negative guarantee means EVERY prefix collision must be
    * examined — on a corpus whose item universe is adversarially small
    * relative to its size (template text over a tight vocabulary, like
    * the synthetic fixtures), prefix buckets saturate and candidates
    * degenerate toward all-pairs. Run the exact tier on the slice that
    * needs ground truth (an eval set, a disputed family, an LSH-recall
    * audit); [[minHashCandidates]] stays the corpus-scale screen. On a
    * natural web-scale shingle universe the prefix filter is sharp and
    * the operator scales as designed.
    *
    * Output: (id_a, id_b, jaccard) for every pair with J ≥ tNum/tDen.
    */
  def ppJoinExact(docs: DataFrame, tNum: Int = 3, tDen: Int = 5,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: $tNum/$tDen")
    // r14: items are the native base-38 shingle CODES (bijective with
    // the 8-char string shingles — ShingleCodes' pad-0 short form can
    // never collide with a full shingle, and the digit map is monotone
    // in byte order, so for the fixed-length shingles of one document
    // the (df, tok) rarity rank is IDENTICAL to the string form's and
    // every df/equality key agrees). Replaces the interpreted
    // transform+array_distinct explode (one substring allocation per
    // position per doc) with one rolling byte-walk per doc; the final
    // (id_a, id_b, jaccard) is invariant either way because verify is
    // exact on the same sets.
    val codeArr = graft.functions.ShingleExprs.shingleCodes(
      graft.ops.TextOps.normalized(col(textCol)), 8, sortedDistinct = true)
    val tk = widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode_outer(codeArr).as("tok"))
      .filter(col("tok").isNotNull)
      .localCheckpoint(true) // df counts + rarity join both read it
    val dfq = tk.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val pre = tk.join(dfq, Seq("tok"))
      .select(col("id"), col("tok"),
        row_number().over(w).as("rn"), count(lit(1)).over(wn).as("n"))
      .filter(col("rn") <= expr(s"n - (($tNum * n + ${tDen - 1}) div $tDen) + 1"))
      .localCheckpoint(true) // both sides of the candidate self-join read it
    val cand = pre.select(col("tok"), col("id").as("id_a"), col("n").as("__na"))
      .join(pre.select(col("tok"), col("id").as("id_b"), col("n").as("__nb")), Seq("tok"))
      .filter(col("id_a") < col("id_b")
        && col("__na") * tNum <= col("__nb") * tDen
        && col("__nb") * tNum <= col("__na") * tDen)
      .select("id_a", "id_b").distinct()
    // r14: the per-doc sorted item arrays rebuild MAP-ONLY from the
    // documents (the same one-pass walk) instead of groupBy +
    // collect_set + sort_array over the exploded frame — one corpus
    // exchange removed; the arrays are identical (ascending distinct).
    val ts = widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), codeArr.as("tl"))
      .select(col("id"), col("tl"), size(col("tl")).as("n"))
      .localCheckpoint(true) // a-side + b-side verify joins both read it
    cand
      .join(ts.select(col("id").as("id_a"), col("tl").as("ta"), col("n").as("na")), Seq("id_a"))
      .join(ts.select(col("id").as("id_b"), col("tl").as("tb"), col("n").as("nb")), Seq("id_b"))
      // explode-of-one (the NOTES_r3 trap-#7 idiom) blocks the alias
      // substitution that would inline the intersect into the join
      // condition and evaluate it TWICE per candidate pair — the
      // dominant verify cost on the dropped majority. With the
      // Generate barrier it runs ONCE (now the native sorted-merge
      // intersect of jaccardVerify, not array_intersect's hash build);
      // the threshold filter reads the materialized count.
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        explode(array(graft.functions.SetExprs.sortedIntersectSize(
          col("ta"), col("tb")).cast("long"))).as("__i"))
      .filter(col("__i") * tDen >= lit(tNum) * (col("na") + col("nb") - col("__i")))
      .select(col("id_a"), col("id_b"),
        round(col("__i") / (col("na") + col("nb") - col("__i")).cast("double"), 4).as("jaccard"))
  }

  /** The (id, sig, band) frame behind the LSH band join — shared by
    * [[minHashCandidates]] and [[bandSkewAudit]].
    */
  private def bandedFrame(docs: DataFrame, idCol: String, textCol: String,
                          numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    // null text (multimodal rows) has no content to near-dup against
    val sigs = widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.ShingleExprs.minHashSig(
          TextOps.normalized(col(textCol)), 8, numHashes).as("sig"))
    // explode_outer + null filter, not plain explode: the inferred
    // pre-Generate/pushed-down filter on a plain explode substitutes
    // the signature chain into itself and re-walks every document
    // (NOTES_r3 trap #7); the outer form generates from the attribute
    sigs
      .select(col("id"), col("sig"), explode_outer(bandKeys(col("sig"), bands, rows)).as("band"))
      .filter(col("band").isNotNull)
  }

  /** Band-bucket SKEW AUDIT — the pre-flight for the LSH shuffle: the
    * band self-join's work is Σ n_b·(n_b−1)/2 over bucket sizes, and
    * one pathological bucket (an empty-string norm, corpus-wide
    * boilerplate) can own most of it — the "curse of the last
    * reducer", measured BEFORE the join runs instead of discovered as
    * a straggler task. Reports the bucket-size distribution (exact
    * p50/p99/max), the total implied pair work, and the largest
    * bucket's share of it. One aggregate over the banded frame plus a
    * rollup over |buckets| rows — strictly cheaper than the join it
    * audits.
    *
    * Output: one row (n_buckets, max_bucket, p50_bucket, p99_bucket,
    * total_pairs, top1_share).
    */
  def bandSkewAudit(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    numHashes: Int = 16, bands: Int = 4): DataFrame =
    bandedFrame(docs, idCol, textCol, numHashes, bands)
      .groupBy("band").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        max("n").as("max_bucket"),
        percentile(col("n"), lit(0.5)).as("__p50"),
        percentile(col("n"), lit(0.99)).as("__p99"),
        sum(expr("(n * (n - 1)) div 2")).as("total_pairs"))
      .select(col("n_buckets"), col("max_bucket"),
        round(col("__p50"), 4).as("p50_bucket"),
        round(col("__p99"), 4).as("p99_bucket"),
        col("total_pairs"),
        round(when(col("total_pairs") > 0,
          expr("(max_bucket * (max_bucket - 1)) div 2") / col("total_pairs").cast("double"))
          .otherwise(0.0), 4).as("top1_share"))

  /** LSH banding EVAL — the harness that justifies a (numHashes, bands)
    * setting before trusting it at corpus scale (the dedup analog of
    * q101's ANN recall): over a BOUNDED document sample, compute the
    * exact n-gram Jaccard of every pair, mark which pairs the band
    * join would surface as candidates, and report recall per Jaccard
    * decile — the measured S-curve against the theoretical
    * 1−(1−s^r)^b.
    *
    * Eval contract (documented, like q101/q127): the all-pairs grid is
    * quadratic — run on a sample, never the corpus; candidates come
    * from the production [[minHashCandidates]] path with the estimate
    * filter OFF (raw band collisions — what the screen actually sees).
    * Deciles bin by EXACT integer arithmetic on the 4dp Jaccard
    * (j·10⁴ is integral), so bucket edges can't float-drift.
    *
    * Output per decile: (j_bin, n_pairs, n_caught, recall).
    */
  def lshBandingEval(sample: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val docs = sample.filter(col(textCol).isNotNull)
    val ids = docs.select(col(idCol))
    val grid = ids.select(col(idCol).as("id_a"))
      .crossJoin(ids.select(col(idCol).as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val exact = jaccardVerify(grid, docs, idCol, textCol)
    val caught = minHashCandidates(docs, idCol, textCol, numHashes, bands, minhashSim = 0.0)
      .select(col("id_a"), col("id_b")).withColumn("__c", lit(1))
    val binIdx = floor(round(col("jaccard") * 10000).cast("long") / lit(1000.0)).cast("int")
    exact.join(caught, Seq("id_a", "id_b"), "left")
      .select(binIdx.as("__b"), col("__c"))
      .groupBy("__b")
      .agg(count(lit(1)).as("n_pairs"), count(col("__c")).as("n_caught"))
      .select((col("__b") / lit(10.0)).as("j_bin"), col("n_pairs"), col("n_caught"),
        round(col("n_caught") / col("n_pairs"), 4).as("recall"))
  }

  /** SimHash (16-bit): per-token hashes vote ±1 on each bit position;
    * the sign vector packs into one int. Near-dups have small Hamming
    * distance. Explode+aggregate form: scales as one shuffle keyed by id
    * with map-side partial aggregation.
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              bits: Int = 16): DataFrame =
    // one-pass native signature: per-token base-31 poly hashes (ASCII
    // token bytes — DuckDB computes the identical fold) vote per bit
    // inside a single expression. Map-only, no explode, no shuffle.
    // Null/token-less docs yield null → filtered, matching the rows the
    // explode pipeline never produced.
    widen(docs).select(col(idCol).as("id"),
        graft.functions.SimHashExprs.simHash(TextOps.tokens(col(textCol)), bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Hamming distance between two packed simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The normalized-text alphabet is exactly {a-z, 0-9, space} (37
    * chars — see [[TextOps.normalized]]), so an n-gram maps bijectively
    * to a base-38 long: char codes 1..37, 0 for absent trailing
    * positions (the single short-document gram). Bijective ⇒ coded-set
    * sizes equal string-set sizes exactly. Fits a long for n ≤ 12.
    */
  private def pow38(e: Int): Long = (0 until e).foldLeft(1L)((acc, _) => acc * 38)

  private[graft] def gramCode(sh: Column, n: Int): Column = {
    require(n <= 12, s"gramCode needs 38^$n to fit a long (n <= 12)")
    // ascii: ""->0 (absent), ' '->32, '0'-'9'->48-57, 'a'-'z'->97-122
    def charCode(a: Column): Column =
      when(a === 0, 0L).when(a === 32, 1L).when(a <= 57, a - 46).otherwise(a - 85).cast("long")
    (1 to n).map(i => charCode(ascii(substring(sh, i, 1))) * pow38(n - i)).reduce(_ + _)
  }

  /** Per-doc sorted-distinct coded n-gram sets: (id, codes array<long>).
    * One native byte-walk per document ([[graft.functions.ShingleExprs
    * .shingleCodes]]) — map-only, NO shuffle: the explode→collect_set
    * round-trip this replaces shuffled every gram of the corpus.
    */
  private[graft] def codedGramSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    widen(docs).filter(col(textCol).isNotNull) // null text: no gram set (as the explode path)
      .select(col(idCol).as("id"),
        graft.functions.ShingleExprs.shingleCodes(
          TextOps.normalized(col(textCol)), n, sortedDistinct = true).as("codes"))

  /** n-gram CONTAINMENT verification — the asymmetric near-dup measure
    * Jaccard misses: a short document quoted whole inside a much longer
    * one keeps |A∩B|/|A| ≈ 1 while Jaccard collapses toward |A|/|B|.
    * For each candidate pair emits both directed containments and the
    * max (the dedup decision value for quote/subset detection, per the
    * containment literature on web-scale dedup).
    *
    * Same hot-path shape as [[jaccardVerify]]: sorted base-38 gram
    * codes computed once per doc, codegen'd merge-walk intersection per
    * pair — the ONLY pair work is one array walk.
    * Output: (id_a, id_b, containment_a, containment_b,
    * max_containment).
    */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 3): DataFrame = {
    val codes = codedGramSets(docs, idCol, textCol, n)
    pairs
      .join(codes.select(col("id").as("id_a"), col("codes").as("codes_a")), Seq("id_a"))
      .join(codes.select(col("id").as("id_b"), col("codes").as("codes_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SetExprs.sortedIntersectSize(col("codes_a"), col("codes_b")).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(when(size(col("codes_a")) > 0, col("inter") / size(col("codes_a"))).otherwise(0.0), 4)
          .as("containment_a"),
        round(when(size(col("codes_b")) > 0, col("inter") / size(col("codes_b"))).otherwise(0.0), 4)
          .as("containment_b"))
      .withColumn("max_containment", greatest(col("containment_a"), col("containment_b")))
  }

  /** n-gram Jaccard verification for candidate pairs: exact similarity
    * on character n-gram sets. `pairs` must carry id_a/id_b; per-doc
    * gram sets are computed once and joined back.
    *
    * Hot-path shape: grams are base-38 long codes (bijective with the
    * strings — identical set sizes), kept sorted-distinct per doc, and
    * |A∩B| comes from the codegen'd merge walk
    * [[graft.functions.SetExprs.sortedIntersectSize]] with
    * |A∪B| = |A|+|B|−|A∩B| — no per-pair hash sets, no intersection
    * arrays materialized. Measured ~5× faster than
    * `size(array_intersect(...))`/`array_union` on the string sets.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    // referencing `pairs` only once keeps its (expensive) subplan from
    // being recomputed — measured faster than semi-join candidate
    // pruning, which triples the pairs subplan for a linear-cost saving
    val codes = codedGramSets(docs, idCol, textCol, n)
    pairs
      .join(codes.select(col("id").as("id_a"), col("codes").as("codes_a")), Seq("id_a"))
      .join(codes.select(col("id").as("id_b"), col("codes").as("codes_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SetExprs.sortedIntersectSize(col("codes_a"), col("codes_b")).cast("double"))
      .withColumn("uni", (size(col("codes_a")) + size(col("codes_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 4).as("jaccard"))
  }

  /** Edit-distance verification of near-dup candidates: exact
    * normalized-prefix Levenshtein similarity
    * `1 − lev(a, b) / max(|a|, |b|)` for each candidate pair — the
    * order-sensitive complement of [[jaccardVerify]] (gram sets are
    * blind to token ORDER: a sentence-shuffled copy keeps Jaccard ≈ 1
    * while its edit similarity collapses).
    *
    * Scale shape: the DP is O(|a|·|b|) PER PAIR, so it runs only on
    * the LSH-screened candidates (a vanishing fraction of n²), never
    * corpus×corpus, and on normalized PREFIXES capped at `maxChars`
    * (the standard truncated-verify tradeoff: 400² ≈ 160k cells per
    * pair, flat per-pair cost independent of document length; docs
    * that agree on a 400-char normalized prefix and diverge later
    * still score ≥ the near-dup band for typical thresholds).
    * Normalization + truncation are map-only; the joins key on ids.
    *
    * Output: (id_a, id_b, edit_sim, is_dup) — similarity rounded to
    * 4dp BEFORE thresholding so the decision is engine-portable.
    * edit_sim is EXACT within the decision band (distance ≤
    * round((1−threshold)·maxChars)) and NULL beyond it — beyond-band
    * distances cannot reach the threshold at any prefix length ≤
    * maxChars, so is_dup is exact for every pair while the DP early-
    * exits on the far-apart majority (measured: 99.3% of sf0.1
    * candidates are beyond-band). Both-empty prefixes (possible for
    * non-ASCII text whose normalization is empty) define
    * edit_sim = 1.0: identical empties.
    */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", maxChars: Int = 400,
                         threshold: Double = 0.8): DataFrame = {
    val pfx = widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(TextOps.normalized(col(textCol)), 1, maxChars).as("pfx"))
    pairs
      .join(pfx.select(col("id").as("id_a"), col("pfx").as("pfx_a")), Seq("id_a"))
      .join(pfx.select(col("id").as("id_b"), col("pfx").as("pfx_b")), Seq("id_b"))
      .withColumn("mx", greatest(length(col("pfx_a")), length(col("pfx_b"))).cast("double"))
      // native BANDED byte-DP with common-prefix/suffix stripping (the
      // prefixes are ASCII by construction, so byte == char distance):
      // exact distance within the decision band, early exit beyond it.
      // d > band ⇒ sim ≤ 1 − (band+1)/maxChars < threshold, so is_dup
      // is exact for EVERY pair; beyond-band pairs report a null
      // edit_sim (the verify needs the value only inside the band).
      // Replaced functions.levenshtein (codepoint seeks per DP cell):
      // q128 at sf0.1 measured 29.8 s → 3.1 s for identical verdicts.
      .withColumn("__d", graft.functions.EditDistanceExprs.byteLevenshtein(
        col("pfx_a"), col("pfx_b"), math.round((1.0 - threshold) * maxChars).toInt))
      .select(col("id_a"), col("id_b"),
        round(when(col("mx") === 0, 1.0)
          .when(col("__d") >= 0, lit(1.0) - col("__d").cast("double") / col("mx")), 4)
          .as("edit_sim"))
      .withColumn("is_dup", coalesce(col("edit_sim") >= threshold, lit(false)))
  }

  /** Cross-corpus near-dup admission — the "don't re-dedup the lake"
    * path: decide, for every NEW document, whether it near-duplicates
    * the EXISTING corpus, without ever pairing the corpus with itself.
    * The batch twin of `streaming.IncrementalDedup`, with the exact
    * Jaccard verify attached.
    *
    * Scale shape: both sides' signatures are map-only; the only big
    * shuffle is the band-key join NEW × CORPUS (corpus band rows are
    * re-derivable each run or precomputed once and stored — either
    * way no corpus×corpus pair work); only candidate pairs reach the
    * gram-set verify, and the decision window ranks each new doc's
    * own candidates only. Id spaces of the two frames may overlap —
    * codes are joined per side, never through a shared table.
    *
    * Output: one row per NEW doc — (idCol, is_dup, match_id,
    * match_jaccard), match columns carrying the best corpus candidate
    * (highest verified Jaccard, lowest id on ties) even when it falls
    * short of `threshold`, which is the number you tune the threshold
    * with; null when no candidate survived the MinHash screen.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         numHashes: Int = 16, bands: Int = 4, minhashSim: Double = 0.5,
                         threshold: Double = 0.8, n: Int = 3): DataFrame = {
    val rows = numHashes / bands
    def banded(df: DataFrame, side: String): DataFrame =
      widen(df).filter(col(textCol).isNotNull)
        .select(col(idCol).as(s"id_$side"),
          graft.functions.ShingleExprs.minHashSig(
            TextOps.normalized(col(textCol)), 8, numHashes).as(s"sig_$side"))
        .select(col(s"id_$side"), col(s"sig_$side"),
          explode_outer(bandKeys(col(s"sig_$side"), bands, rows)).as("band"))
        .filter(col("band").isNotNull)
    val cand = banded(newDocs, "a").join(banded(corpus, "b"), Seq("band"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), (b => b)))
          / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minhashSim)
      .select(col("id_a"), col("id_b")).distinct()
    val codesA = codedGramSets(newDocs, idCol, textCol, n)
      .select(col("id").as("id_a"), col("codes").as("codes_a"))
    val codesB = codedGramSets(corpus, idCol, textCol, n)
      .select(col("id").as("id_b"), col("codes").as("codes_b"))
    val verified = cand.join(codesA, Seq("id_a")).join(codesB, Seq("id_b"))
      .withColumn("inter",
        graft.functions.SetExprs.sortedIntersectSize(col("codes_a"), col("codes_b")).cast("double"))
      .withColumn("uni", (size(col("codes_a")) + size(col("codes_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 4).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("jaccard").desc, col("id_b").asc)
    val best = verified.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("id_a").as(idCol), col("id_b").as("match_id"),
        col("jaccard").as("match_jaccard"))
    newDocs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("match_jaccard") >= threshold, lit(false)).as("is_dup"),
        col("match_id"), col("match_jaccard"))
  }

  /** Cross-MODAL cross-corpus admission: decide, for every NEW
    * (caption, image) document, whether it near-duplicates the EXISTING
    * corpus in BOTH modalities — the admission gate for multimodal
    * training data, where a re-hosted image with a lightly reworded
    * caption must still be caught (and a coincidental caption match
    * with a different image must NOT be).
    *
    * Candidates come from EITHER screen — text MinHash band match OR
    * perceptual-hash (band, byte) bucket match, both NEW × CORPUS only
    * (composing [[dedupAgainstCorpus]]'s shape with
    * [[MultimodalOps.imageHashNearDup]]'s buckets) — so a near-dup
    * missed by one modality's LSH can still be recalled by the other.
    * Every candidate then verifies BOTH exact measures: character
    * n-gram Jaccard on the caption and Hamming distance on the dHash
    * bands. `is_dup` requires jaccard ≥ `jaccardThreshold` AND
    * hamming ≤ `maxHamming`.
    *
    * Scale shape: two band-key joins NEW × CORPUS (never corpus ×
    * corpus), verification on candidate pairs only, per-new-doc
    * decision window over that doc's own candidates. `newBands` /
    * `corpusBands` are each referenced twice (bucket join + Hamming
    * verify) — persist them upstream if their lineage is expensive
    * (the [[TextOps.perplexityBuckets]] caller contract).
    *
    * Output: one row per NEW doc — (idCol, is_dup, match_id,
    * match_jaccard, match_hamming); the match columns carry the best
    * candidate (dup-passing first, then jaccard desc, hamming asc,
    * id asc), null when no candidate survived either screen.
    */
  def crossModalAdmission(newDocs: DataFrame, corpus: DataFrame,
                          newBands: DataFrame, corpusBands: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          bandIdCol: String = "media_id",
                          numHashes: Int = 16, bands: Int = 4, minhashSim: Double = 0.5,
                          jaccardThreshold: Double = 0.8, maxHamming: Int = 8,
                          n: Int = 3): DataFrame = {
    val rows = numHashes / bands
    def textBanded(df: DataFrame, side: String): DataFrame =
      widen(df).filter(col(textCol).isNotNull)
        .select(col(idCol).as(s"id_$side"),
          graft.functions.ShingleExprs.minHashSig(
            TextOps.normalized(col(textCol)), 8, numHashes).as(s"sig_$side"))
        .select(col(s"id_$side"), col(s"sig_$side"),
          explode_outer(bandKeys(col(s"sig_$side"), bands, rows)).as("band"))
        .filter(col("band").isNotNull)
    val tcand = textBanded(newDocs, "a").join(textBanded(corpus, "b"), Seq("band"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), (m => m)))
          / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minhashSim)
      .select(col("id_a"), col("id_b"))
    val icand = newBands.select(col("band"), col("byte"), col(bandIdCol).as("id_a"))
      .join(corpusBands.select(col("band"), col("byte"), col(bandIdCol).as("id_b")),
        Seq("band", "byte"))
      .select(col("id_a"), col("id_b"))
    // one union'd candidate set, referenced ONCE below: the Hamming
    // verify joins onto the jaccard-verified frame instead of re-reading
    // `cand` (the twice-referenced-subplan discipline, applied here)
    val cand = tcand.union(icand).distinct()
    val codesA = codedGramSets(newDocs, idCol, textCol, n)
      .select(col("id").as("id_a"), col("codes").as("codes_a"))
    val codesB = codedGramSets(corpus, idCol, textCol, n)
      .select(col("id").as("id_b"), col("codes").as("codes_b"))
    val withJac = cand.join(codesA, Seq("id_a")).join(codesB, Seq("id_b"))
      .withColumn("inter",
        graft.functions.SetExprs.sortedIntersectSize(col("codes_a"), col("codes_b")).cast("double"))
      .withColumn("uni", (size(col("codes_a")) + size(col("codes_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 4).as("jaccard"))
    // r15 (guide §2.3, the imageHashNearDup restructure): per-image
    // band vectors aggregated once per side, Hamming as a map-side
    // array fold per candidate pair — replaces the band-granularity
    // double join + (id_a, id_b, jaccard)-keyed aggregate over the 8×
    // fan-out. Same xor/bit_count terms, order-free integer adds.
    def bandVecs(bands: DataFrame, idAs: String, vecAs: String): DataFrame =
      MultimodalOps.bandVectors(bands, bandIdCol).select(col(bandIdCol).as(idAs), col("__bv").as(vecAs))
    val scored = withJac
      .join(bandVecs(newBands, "id_a", "__bva"), Seq("id_a"))
      .join(bandVecs(corpusBands, "id_b", "__bvb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        MultimodalOps.bandHamming(col("__bva"), col("__bvb")).as("hamming"))
    val passes = col("jaccard") >= jaccardThreshold && col("hamming") <= maxHamming
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(passes.desc, col("jaccard").desc,
        col("hamming").asc, col("id_b").asc)
    val best = scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("id_a").as(idCol), col("id_b").as("match_id"),
        col("jaccard").as("match_jaccard"), col("hamming").as("match_hamming"))
    newDocs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("match_jaccard") >= jaccardThreshold
          && col("match_hamming") <= maxHamming, lit(false)).as("is_dup"),
        col("match_id"), col("match_jaccard"), col("match_hamming"))
  }

  /** Benchmark decontamination: for every training document, how many
    * of its distinct character 8-gram codes appear anywhere in the
    * evaluation set — the standard n-gram-overlap contamination check
    * run before training on scraped corpora.
    *
    * Scale shape: the eval side reduces to a DISTINCT gram-code
    * dictionary (eval sets are small — broadcast), training grams
    * stream through a map-side broadcast join and a partial-aggregated
    * count keyed by doc — the full corpus never shuffles. Output per
    * training doc: n_grams, hit_grams, contamination_rate (4dp),
    * contaminated (rate ≥ `threshold`).
    */
  def evalGramOverlap(train: DataFrame, evalDocs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    // explode_outer + null filter: keeps the shingle-code walk out of
    // the inferred pre-Generate filter (NOTES_r3 trap #7)
    val evalGrams = codedGramSets(evalDocs, idCol, textCol, n)
      .select(explode_outer(col("codes")).as("g"))
      .filter(col("g").isNotNull).distinct()
    val trainGrams = codedGramSets(train, idCol, textCol, n)
    val hits = trainGrams.select(col("id"), explode_outer(col("codes")).as("g"))
      .filter(col("g").isNotNull)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("hit_grams"))
    trainGrams.select(col("id"), size(col("codes")).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        round(coalesce(col("hit_grams"), lit(0L)).cast("double") / col("n_grams"), 4)
          .as("contamination_rate"))
      .withColumn("contaminated", col("contamination_rate") >= threshold)
  }

  /** Decontamination via a broadcast Bloom filter over the eval gram
    * codes — the constant-memory variant of [[evalGramOverlap]] for
    * when the eval dictionary outgrows a broadcast hash join (at 1%
    * fpp the filter costs ~1.2 bytes/gram, so a billion-gram eval set
    * broadcasts in ~1.2 GB where the exact dictionary wouldn't). Pure
    * map work on the training side: no explode, no join, no shuffle —
    * each doc's sorted code set streams through `mightContainLong`.
    *
    * Error is one-sided: contaminated grams ALWAYS hit (no false
    * negatives), clean grams false-positive at ≤ fpp, so the reported
    * rate is a slight over-estimate — the safe direction for a kill
    * filter. Output schema matches [[evalGramOverlap]]; rates differ
    * from exact by at most ~fpp.
    */
  def evalGramBloom(train: DataFrame, evalDocs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 8, threshold: Double = 0.5,
                    fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val evalGrams = codedGramSets(evalDocs, idCol, textCol, n)
      .select(explode_outer(col("codes")).as("g"))
      .filter(col("g").isNotNull).distinct()
    val bf = evalGrams.stat.bloomFilter("g", math.max(evalGrams.count(), 1L), fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val hitCount = org.apache.spark.sql.functions.udf(
      (codes: Seq[Long]) => codes.count(c => bc.value.mightContainLong(c)).toLong)
    codedGramSets(train, idCol, textCol, n)
      .select(col("id").as(idCol), size(col("codes")).cast("long").as("n_grams"),
        hitCount(col("codes")).as("hit_grams"))
      .select(col(idCol), col("n_grams"), col("hit_grams"),
        round(col("hit_grams").cast("double") / col("n_grams"), 4).as("contamination_rate"))
      .withColumn("contaminated", col("contamination_rate") >= threshold)
  }

  /** [[evalGramBloom]] with a DETERMINISTIC, engine-portable bit
    * layout: k seeded-md5 hashes (the [[SampleOps.seededHash]] idiom,
    * seeds seedBase+1..seedBase+k) into m = 2^mBits bits. Spark's
    * built-in `bloomFilter` state is engine-specific (the original
    * q83 rows-only gap); this filter's bit positions are pure md5
    * arithmetic, so any SQL engine replays the filter — INCLUDING its
    * false positives — bit-exactly, making the estimate itself
    * oracle-verifiable (the q206 HLL discipline applied to Bloom).
    *
    * Plan shape: the eval side reduces to distinct bit positions which
    * PACK INTO 64-bit words on the executors (groupBy p/64 with bit-OR)
    * before the driver sees them — the ONE bounded driver read is
    * ≤ m/64 longs, i.e. exactly the bitmap's own size (2^22 bits =
    * 512 KiB broadcast, 64 Ki words collected; even mBits = 30 reads
    * ≤ 16 M words, the 128 MiB its bitmap costs anyway — never the
    * m ROWS a raw position collect could reach). The training side is
    * pure map work — no explode, no join, no shuffle: each doc's
    * sorted code set probes the broadcast bitmap k times per gram.
    *
    * Same output schema and one-sided-error contract as
    * [[evalGramBloom]]: contaminated grams ALWAYS hit (every set bit
    * an eval gram needs is set by construction); clean grams
    * false-positive at ≈ (1 − e^(−k·n/m))^k. Size mBits for the eval
    * gram count — the standard m ≳ 1.44·k·n keeps fpp ≲ 1%; the
    * default 2^22 covers eval splits to ~700k distinct grams.
    */
  def evalGramBloomSeeded(train: DataFrame, evalDocs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", n: Int = 8, threshold: Double = 0.5,
                          mBits: Int = 22, k: Int = 4, seedBase: Long = 300L): DataFrame = {
    require(mBits >= 10 && mBits <= 30, s"mBits out of range: $mBits")
    require(k >= 1 && k <= 16, s"k out of range: $k")
    val spark = train.sparkSession
    val m = 1L << mBits
    val ks = (1 to k).map(i => lit(i.toLong))
    val positions = codedGramSets(evalDocs, idCol, textCol, n)
      .select(explode_outer(col("codes")).as("g"))
      .filter(col("g").isNotNull).distinct()
      .select(col("g"), explode(array(ks: _*)).as("i"))
      .select(pmod(SampleOpsSeed.hash(col("i"), col("g").cast("string"), seedBase),
        lit(m)).as("p"))
    // executor-side word packing: the driver reads ≤ m/64 (word, bits)
    // longs — the bitmap's own footprint — never one Row per set bit
    // (k·|eval grams| rows of Row overhead at large mBits). bit_or is
    // idempotent, so duplicate positions need no pre-distinct — the
    // word groupBy is the ONE shuffle on this side
    val words = positions
      .select((col("p") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("bits"))
      .collect()
    val packed = new Array[Long]((m >> 6).toInt)
    words.foreach(r => packed(r.getLong(0).toInt) = r.getLong(1))
    val bits = java.util.BitSet.valueOf(packed)
    val bc = spark.sparkContext.broadcast(bits)
    val (kk, mm, sb) = (k, m, seedBase)
    val hitCount = org.apache.spark.sql.functions.udf((codes: Seq[Long]) =>
      codes.count(c => SeededBloom.allSet(bc.value, c, kk, mm, sb)).toLong)
    codedGramSets(train, idCol, textCol, n)
      .select(col("id").as(idCol), size(col("codes")).cast("long").as("n_grams"),
        hitCount(col("codes")).as("hit_grams"))
      .select(col(idCol), col("n_grams"), col("hit_grams"),
        round(col("hit_grams").cast("double") / col("n_grams"), 4).as("contamination_rate"))
      .withColumn("contaminated", col("contamination_rate") >= threshold)
  }

  /** TF-IDF cosine verify — the WEIGHTED lexical verify tier for
    * MinHash candidate pairs, between set-Jaccard (term identity only)
    * and embedding cosine (dense semantics): two docs that share their
    * RARE terms score high even when boilerplate differs, because each
    * term's contribution carries its idf weight. Uses q65's tf-idf
    * convention (`round(tf·(N+1)/(df+1), 4)`) so the weight table is
    * the same artifact a user already has from the top-terms query.
    *
    * Determinism: weights quantize to integer 1e-4 units; dot products
    * and squared norms are then LONG sums (exact, order-free — a double
    * dot product splits at the rounding boundary between engines), and
    * the 1e-8 scale cancels in the ratio. `sqrt` is IEEE
    * correctly-rounded everywhere, so the 6dp-rounded cosine is
    * bit-stable. Zero-norm docs (no tokens) score 0.0 against anything.
    *
    * Plan shape: ONE explode pass builds the weight table (df and N
    * derive from it), checkpointed — the pair join reads it twice
    * (a-side, b-side) and the norm aggregate once. Pair work is
    * confined to the candidate edges; terms join per pair through the
    * (id, term)-keyed shuffle, never a corpus×corpus product.
    *
    * 64-bit envelope: the banked norm needs Σ(wi²) < 9.2e18, i.e.
    * per-term weight·√(distinct terms) below ~3e9 — which holds
    * whenever no scored term has idf N/df past ~1e7. At corpus scales
    * where true hapaxes break that, set `minDf` (the standard df
    * floor): hapax terms carry no dedup evidence (they match nothing)
    * and dropping them tightens, not loosens, the verify.
    *
    * Output: (id_a, id_b, cosine_tfidf) per candidate pair.
    */
  def tfidfCosineVerify(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", minDf: Int = 1): DataFrame = {
    val tf = widen(docs)
      .select(col(idCol).as("id"), explode_outer(graft.ops.TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val df0 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val df = if (minDf > 1) df0.filter(col("df") >= minDf) else df0
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val wt = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"),
        round(round(col("tf").cast("double") * (col("n_docs") + 1) / (col("df") + 1), 4) * 1e4)
          .cast("long").as("wi"))
      .localCheckpoint(true) // a-side + b-side pair joins and the norm agg all read it
    val norms = wt.groupBy("id").agg(sum(col("wi") * col("wi")).as("s8"))
    val dots = pairs.select("id_a", "id_b")
      .join(wt.select(col("id").as("id_a"), col("term"), col("wi").as("wa")), Seq("id_a"))
      .join(wt.select(col("id").as("id_b"), col("term"), col("wi").as("wb")), Seq("id_b", "term"))
      .groupBy("id_a", "id_b").agg(sum(col("wa") * col("wb")).as("dot8"))
    pairs.select("id_a", "id_b")
      .join(dots, Seq("id_a", "id_b"), "left")
      .join(norms.select(col("id").as("id_a"), col("s8").as("sa8")), Seq("id_a"), "left")
      .join(norms.select(col("id").as("id_b"), col("s8").as("sb8")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        when(coalesce(col("sa8"), lit(0L)) > 0 && coalesce(col("sb8"), lit(0L)) > 0,
          round(coalesce(col("dot8"), lit(0L)) / (sqrt(col("sa8")) * sqrt(col("sb8"))), 6))
          .otherwise(0.0).as("cosine_tfidf"))
  }

  /** Embedding near-dup: pairs with cosine similarity above `threshold`.
    * Blocked on `blockCol` (e.g. a cluster label or LSH bucket) so the
    * join is bucket-local — the all-pairs product never materializes.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
                       blockCol: String = "label", threshold: Double = 0.95): DataFrame = {
    val a = emb.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(vecCol).as("v_a"),
      SimilarityOps.norm(col(vecCol)).as("n_a"))
    val b = emb.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(vecCol).as("v_b"),
      SimilarityOps.norm(col(vecCol)).as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(SimilarityOps.cosinePre(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Dedup savings report: per source, how many documents and
    * characters exact dedup would drop (min-id-wins over the
    * normalized fingerprint, the [[exactDedup]] rule) — the line item
    * that justifies the dedup pass in storage and compute terms
    * before anyone runs it.
    *
    * Plan shape: one fingerprint aggregate (min id per fp), one join
    * back, one per-source rollup — exactly [[exactDedup]]'s cost plus
    * a category-sized aggregate.
    *
    * Output: (source, n_docs, n_dropped, chars_total, chars_dropped,
    * savings_pct 4dp).
    */
  def dedupSavings(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", srcCol: String = "source",
                   charsCol: String = "n_chars"): DataFrame = {
    val fp = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(srcCol), col(charsCol).cast("long").as("__ch"),
        TextOps.fingerprint(col(textCol)).as("__fp"))
      .localCheckpoint(true) // min-per-fp aggregate + the drop join both read it
    val keep = fp.groupBy("__fp").agg(min(col(idCol)).as("__keep_id"))
    fp.join(keep, Seq("__fp"))
      .withColumn("__dropped", col(idCol) =!= col("__keep_id"))
      .groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum("__ch").as("chars_total"),
        sum(when(col("__dropped"), col("__ch")).otherwise(0L)).as("chars_dropped"))
      .withColumn("savings_pct",
        round(col("chars_dropped") / col("chars_total").cast("double"), 4))
  }

  /** Directed source-containment matrix: for every ordered source pair
    * (a, b), the fraction of a's DISTINCT shingles also present in b —
    * the asymmetric "is a a subset/mirror of b" measure that symmetric
    * Jaccard hides (a small source fully contained in a big one still
    * has near-zero Jaccard). Shingle sets are per-source distinct
    * base-38 codes; the pair join is keyed on the code (shared-shingle
    * bounded). At lake scale, screen with the HLL register form
    * (union/intersection estimates, q215) and reserve this exact join
    * for the flagged pairs.
    *
    * Output: (src_a, src_b, n_shared, containment 4dp), src_a != src_b.
    */
  def sourceContainment(docs: DataFrame, srcCol: String = "source",
                        textCol: String = "text", k: Int = 8): DataFrame = {
    val sets = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"),
        explode(graft.functions.ShingleExprs.shingleCodes(
          TextOps.normalized(col(textCol)), k, sortedDistinct = true)).as("code"))
      .distinct()
      .localCheckpoint(true) // sizes + both join sides read it
    val sizes = sets.groupBy("__s").agg(count(lit(1)).as("__sz"))
    val shared = sets.select(col("__s").as("src_a"), col("code"))
      .join(sets.select(col("__s").as("src_b"), col("code")), Seq("code"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("__s").as("src_a"), col("__sz"))), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / col("__sz").cast("double"), 4).as("containment"))
  }

  /** Frequency-weighted Jaccard between sources: Σ min(tf_a, tf_b) /
    * Σ max(tf_a, tf_b) over the term-frequency vectors — the
    * DISTRIBUTIONAL similarity [[sourceContainment]]'s set view
    * flattens (two sources can share every term yet use them at wildly
    * different rates). Σmax folds to tot_a + tot_b − Σmin, so only the
    * SHARED terms join (inner join on the term key); totals ride back
    * broadcast.
    *
    * Output: (src_a, src_b, shared_mass, weighted_jaccard 6dp),
    * src_a < src_b.
    */
  def sourceWeightedJaccard(docs: DataFrame, srcCol: String = "source",
                            textCol: String = "text"): DataFrame = {
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("__s", "term").agg(count(lit(1)).as("__tf"))
      .localCheckpoint(true) // totals + both join sides read it
    val totals = tf.groupBy("__s").agg(sum("__tf").as("__tot"))
    val a = tf.select(col("__s").as("src_a"), col("term"), col("__tf").as("__tfa"))
    val b = tf.select(col("__s").as("src_b"), col("term"), col("__tf").as("__tfb"))
    a.join(b, Seq("term")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(least(col("__tfa"), col("__tfb"))).as("shared_mass"))
      .join(broadcast(totals.select(col("__s").as("src_a"), col("__tot").as("__ta"))), Seq("src_a"))
      .join(broadcast(totals.select(col("__s").as("src_b"), col("__tot").as("__tb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_mass"),
        round(col("shared_mass").cast("double")
          / (col("__ta") + col("__tb") - col("shared_mass")), 6).as("weighted_jaccard"))
  }

  /** Corpus snapshot diff: classify every document across two corpus
    * states as added / removed / changed / unchanged by
    * normalized-content fingerprint ([[TextOps.fingerprint]]) — the
    * incremental-ingestion audit ("what did yesterday's crawl actually
    * change") that gates re-processing to the changed slice instead of
    * the whole lake.
    *
    * Plan shape: ONE full-outer join on the id key; fingerprints are
    * map-side md5 over each side's scan. Presence is tracked with
    * explicit flags (NOT fingerprint nullness — a null-text document
    * carries a null fingerprint and must still compare as present);
    * fingerprints compare null-safely so two null-text versions are
    * `unchanged`, not `changed`.
    *
    * Output: (id, status) for every id in either snapshot.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol), lit(1).as("__in_old"),
      TextOps.fingerprint(col(textCol)).as("__fp_old"))
    val n = newDocs.select(col(idCol), lit(1).as("__in_new"),
      TextOps.fingerprint(col(textCol)).as("__fp_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!(col("__fp_old") <=> col("__fp_new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Analytic LSH banding tuner: for every (bands, rows) factorization
    * of the hash budget, integrate the theoretical S-curve
    * p(s) = 1 − (1 − s^r)^b over a uniform similarity grid and report
    * the false-negative mass above the target threshold and the
    * false-positive mass below it — the "price the screen BEFORE
    * running it" companion to the empirical [[lshBandingEval]] (which
    * measures the curve on real pairs) and [[bandSkewAudit]] (which
    * prices the join volume). Pick the factorization minimizing
    * cost = fn + fp, or weight them by your verify budget.
    *
    * Determinism: powers compute as exp/ln compositions with 6dp
    * rounding between steps (p1 = round(exp(r·ln s), 6), then
    * p = round(1 − exp(b·ln(1−p1)), 6)) — the same transcendental
    * exposure every ln/exp oracle in this repo already carries, with
    * no dependence on cross-engine pow() agreement. Masses sum the
    * 6dp-banked p values as exact longs.
    *
    * The threshold arrives as a rational cut of the grid
    * (tNum/tDen · sSteps must be integral) so the above/below split is
    * integer-exact. Pure arithmetic over a (divisors × grid) local
    * relation — no data, no shuffle; runs anywhere instantly.
    *
    * Output per factorization: (bands, rows_per_band, fn_mass,
    * fp_mass, cost) — masses in grid-point units, 6dp.
    */
  def lshParamSweep(spark: org.apache.spark.sql.SparkSession, numHashes: Int = 16,
                    tNum: Int = 1, tDen: Int = 2, sSteps: Int = 20): DataFrame = {
    require(sSteps * tNum % tDen == 0,
      s"threshold $tNum/$tDen must land on the $sSteps-step grid")
    val cut = sSteps * tNum / tDen
    import spark.implicits._
    val grid = (1 to numHashes).filter(numHashes % _ == 0)
      .flatMap(b => (1 until sSteps).map(i => (b, numHashes / b, i)))
      .toDF("bands", "rows_per_band", "si")
    val s = col("si") / lit(sSteps.toDouble)
    val p1 = round(exp(col("rows_per_band") * log(s)), 6)
    val pc = when(p1 >= 1.0, lit(1.0))
      .otherwise(round(lit(1.0) - exp(col("bands") * log(lit(1.0) - p1)), 6))
    grid
      .select(col("bands"), col("rows_per_band"), col("si"),
        round(pc * 1e6).cast("long").as("p6"))
      .groupBy("bands", "rows_per_band")
      .agg(sum(when(col("si") >= cut, lit(1000000L) - col("p6")).otherwise(0L)).as("__fn6"),
        sum(when(col("si") < cut, col("p6")).otherwise(0L)).as("__fp6"))
      .select(col("bands"), col("rows_per_band"),
        round(col("__fn6") / 1e6, 6).as("fn_mass"),
        round(col("__fp6") / 1e6, 6).as("fp_mass"),
        round((col("__fn6") + col("__fp6")) / 1e6, 6).as("cost"))
  }
}

/** JVM-side replay of the seeded-md5 bit positions behind
  * [[DedupOps.evalGramBloomSeeded]]: position(seed, code) is the 60-bit
  * md5-prefix hash of "seed:code" masked to m — byte-for-byte the
  * [[SampleOpsSeed.hash]] / [[SampleOps.seededHash]] column expression
  * (`conv(substr(md5(seed || ':' || code), 1, 15), 16, 10) % m`), so the
  * map-side probe and the SQL oracle walk the identical bit layout
  * (`SeededBloomSpec` pins expression ≡ JVM on a code sample).
  */
private[graft] object SeededBloom {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5("seed:code") as a long (60 bits:
    * bytes 0–6 whole + the high nibble of byte 7), masked to m
    * (a power of two, so `& (m-1)` ≡ the oracle's `% m` on the
    * non-negative hash).
    */
  def position(seed: Long, code: Long, m: Long): Int = {
    val d = md.get(); d.reset()
    val b = d.digest(s"$seed:$code".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
    h = (h << 4) | ((b(7) & 0xffL) >>> 4)
    (h & (m - 1L)).toInt
  }

  def allSet(bits: java.util.BitSet, code: Long, k: Int, m: Long, seedBase: Long): Boolean = {
    var i = 1
    while (i <= k) {
      if (!bits.get(position(seedBase + i, code, m))) return false
      i += 1
    }
    true
  }
}
