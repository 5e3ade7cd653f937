package graft.api

import graft.model.MetricStatus
import graft.query.{MetricQuery, QueryParams}
import graft.retention.{Retention, RetentionResolver, RetentionRule}
import graft.search.MetricSearchOps
import graft.streaming.IngestPipeline
import graft.jobs.Compaction
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Refusal for over-limit `/metricData` requests — the engine-side
  * equivalent of the reference's HTTP 413 (`data/
  * MetricDataServiceServlet.java:58-64`), carrying the same
  * provided/max counts the reference prints.
  */
final class TooManyMetricsException(val provided: Int, val max: Int)
    extends IllegalArgumentException(
      s"Too many metrics in query. Provided $provided, max $max")

/** The engine facade — one object per (data table, tree table) pair,
  * exposing the reference's whole user surface (SURVEY.md §3):
  * `/search` → [[search]], `/metricData` → [[metricData]], status
  * management → [[setStatus]], TCP ingest → [[ingest]], plus the
  * background jobs ([[compact]], [[autoHide]]). A graphouse user's
  * workflow maps 1:1; everything executes as Spark plans.
  */
final class Graft(
    val spark: SparkSession,
    dataPath: String,
    treePath: String,
    rules: Seq[RetentionRule] = Retention.defaultRules,
    maxMetricsPerQuery: Int = 0,
    treeLimits: graft.model.TreeLimits = graft.model.TreeLimits.none
) {
  private val resolver = new RetentionResolver(rules)

  // glob_match SQL function + sargable-glob optimizer rule (P2 range reads)
  graft.plans.GraftExtensions.enable(spark)

  /** Raw append-only tables. */
  def data: DataFrame = spark.read.parquet(dataPath)
  def tree: DataFrame = spark.read.parquet(treePath)

  /** Current logical tree state (latest status per name). */
  def currentTree: DataFrame = MetricSearchOps.currentTree(tree)

  /** §3.2 — glob search over visible tree nodes, with per-dir limit
    * notification rows when [[treeLimits]] caps are configured.
    */
  def search(query: String): DataFrame =
    MetricSearchOps.searchWithLimits(tree, query, treeLimits)

  /** Optional serving cache: a driver-side trie snapshot of the current
    * tree (the reference's in-memory `MetricTree`). `searchCached`
    * answers globs without a Spark job; staleness is bounded by how
    * often the caller refreshes. Thread-safe via snapshot swap.
    */
  @volatile private var trieCache: Option[graft.search.MetricTrie] = None

  /** Oldest `updated` stamped by a [[setStatus]] write since the trie
    * last synced (MaxValue = none pending). A write back-dated beyond
    * the delta overlap would be invisible to an incremental refresh
    * forever; tracking the minimum lets [[refreshSearchCache]] detect
    * that and fall back to a full rebuild on its own. All access is
    * under [[pendingLock]]: min-recording is a read-modify-write, and a
    * refresh must CLAIM the pending value atomically before it scans —
    * a concurrent setStatus then records for the NEXT refresh instead
    * of being wiped by this one's reset.
    */
  private var minPendingUpdated: Long = Long.MaxValue
  private val pendingLock = new Object

  private def recordPending(nowSeconds: Long): Unit = pendingLock.synchronized {
    minPendingUpdated = math.min(minPendingUpdated, nowSeconds)
  }

  /** Atomically take-and-reset the pending minimum (claimed BEFORE the
    * refresh reads the tree, so writes landing mid-refresh stay pending).
    */
  private def claimPending(): Long = pendingLock.synchronized {
    val p = minPendingUpdated; minPendingUpdated = Long.MaxValue; p
  }

  private val trieOverlapSeconds = 120L

  /** (Re)build or incrementally refresh the trie snapshot: the first
    * call builds from the full tree; later calls swap in a path-copied
    * trie with only rows since the watermark folded in
    * (`MetricTrie.withDelta` — a refresh costs rows-written-since, not
    * tree size, so a tight cadence is cheap). If a [[setStatus]] since
    * the last sync was back-dated beyond the delta overlap (an explicit
    * old `nowSeconds`), the incremental scan could never see it, so
    * this falls back to a full rebuild automatically. Writes from
    * OTHER processes can't be observed here — a deployment with
    * external back-dating writers must call [[rebuildSearchCache]] on
    * its own cadence. Always a snapshot swap: concurrent readers keep
    * a consistent instance throughout.
    */
  def refreshSearchCache(): Unit = {
    val pending = claimPending()
    try trieCache match {
      case Some(t) if pending >= t.deltaWatermark - trieOverlapSeconds =>
        trieCache = Some(t.withDelta(tree, trieOverlapSeconds))
      case _ =>
        trieCache = Some(graft.search.MetricTrie.fromTree(tree))
    } catch {
      case e: Throwable => recordPending(pending); throw e // refresh failed: stay pending
    }
  }

  /** Full rebuild-and-swap (point-in-time-consistent snapshot). */
  def rebuildSearchCache(): Unit = {
    val pending = claimPending()
    try trieCache = Some(graft.search.MetricTrie.fromTree(tree))
    catch { case e: Throwable => recordPending(pending); throw e }
  }

  /** Trie-served glob search (builds the snapshot on first use). Same
    * results as [[search]] as of the last refresh.
    */
  def searchCached(query: String): Seq[(String, String)] = {
    if (trieCache.isEmpty) refreshSearchCache()
    trieCache.get.searchWithLimits(query, treeLimits)
  }

  /** §3.1 — the full read path: expand patterns, group matched metrics
    * by retention function, run dedup→rollup→gapfill per group (the
    * reference runs one ClickHouse query per function group,
    * `data/MetricDataService.java:49-51,86-98`), pad unmatched names
    * with all-null series. Returns `Dataset[Series]`-shaped rows
    * (metric, start, end, step, points).
    */
  def metricData(patterns: Seq[String], startSeconds: Int, endSeconds: Int,
                 maxPointsPerMetric: Int = -1,
                 nowSeconds: Long = System.currentTimeMillis() / 1000): DataFrame = {
    import spark.implicits._
    // request cap BEFORE any expansion or scan — one fat dashboard
    // request must not fan an unbounded IN-list into the data scan
    // (reference refuses with 413, MetricDataServiceServlet.java:58-64)
    if (maxMetricsPerQuery > 0 && patterns.size > maxMetricsPerQuery)
      throw new TooManyMetricsException(patterns.size, maxMetricsPerQuery)
    val distinctPatterns = patterns.distinct
    val exactNames = distinctPatterns.filterNot(graft.names.Glob.hasWildcards)
    // ONE search pass serves both glob expansion and the exact-name
    // visibility gate (an exact name is a literal glob): a banned/
    // hidden/unknown metric is not readable by naming it directly — it
    // keeps its all-null series (reference resolves every requested
    // name through the tree, J4 pads the rest). Previously this was two
    // sequential currentTree aggregations per request.
    val matchedVisible: Seq[String] =
      if (distinctPatterns.isEmpty) Seq.empty
      else MetricSearchOps.searchMany(tree, distinctPatterns)
        .select("name").as[String].collect().filterNot(_.endsWith(".")).toSeq
    val readable = matchedVisible.toSet
    val requested = (matchedVisible ++ exactNames).distinct
    val ageSeconds = (nowSeconds - startSeconds).toInt
    val byFunction: Map[String, Seq[(String, Int)]] = requested
      .map(n => { val r = resolver.resolve(n); (n, r.function, r.stepFor(ageSeconds)) })
      .groupBy(_._2)
      .map { case (fn, xs) => fn -> xs.map(x => (x._1, x._3)) }
    if (byFunction.isEmpty) {
      return spark.emptyDataFrame
        .withColumn("metric", lit("")).limit(0)
        .select(col("metric"), lit(0).as("start"), lit(0).as("end"), lit(0).as("step"),
          array().cast("array<double>").as("points"))
    }
    val frames = byFunction.toSeq.sortBy(_._1).map { case (fn, metricSteps) =>
      val params = QueryParams.create(metricSteps.map(_._2), startSeconds, endSeconds,
        maxPointsPerMetric, nowSeconds)
      val groupNames = metricSteps.map(_._1)
      MetricQuery.metricData(data, groupNames.filter(readable), fn, params,
        requested = groupNames)
    }
    frames.reduce(_ unionByName _)
  }

  /** Status management (ban/approve/hide/...): appends transition rows
    * honoring the restricted status graph. [[setStatus]] is the
    * persisting form (appends these rows to the tree table).
    */
  def statusRows(pattern: String, status: MetricStatus,
                 nowSeconds: Long = System.currentTimeMillis() / 1000): DataFrame =
    MetricSearchOps.setStatus(tree, pattern, status, nowSeconds)

  /** NOTE: `updated` ties (same-second writes) resolve arbitrarily, like
    * the reference's ReplacingMergeTree on equal versions — pass an
    * explicit monotonic `nowSeconds` when ordering matters.
    */
  def setStatus(pattern: String, status: MetricStatus,
                nowSeconds: Long = System.currentTimeMillis() / 1000): Unit = {
    statusRows(pattern, status, nowSeconds).write.mode("append").parquet(treePath)
    // remember the oldest stamp so a back-dated write beyond the delta
    // overlap forces refreshSearchCache into a full rebuild (recorded
    // AFTER the write lands: a refresh scanning concurrently either saw
    // the rows or will see this pending marker on its next cycle)
    recordPending(nowSeconds)
  }

  /** §3.3 — streaming ingest of graphite plaintext lines. */
  def ingest(lines: Dataset[String], checkpoint: String): StreamingQuery =
    new IngestPipeline(dataPath = dataPath, treePath = treePath, limits = treeLimits)
      .start(lines, checkpoint)

  /** §3.3 production path: listen for graphite TCP pushes on `port`
    * (custom `MicroBatchStream` source, receive-time stamping at the
    * socket — reference MetricServer role).
    */
  def ingestTcp(port: Int, checkpoint: String): StreamingQuery = {
    val lines = spark.readStream
      .format("graft.streaming.GraphiteSourceProvider")
      .option("port", port.toString)
      .load()
    new IngestPipeline(dataPath = dataPath, treePath = treePath, limits = treeLimits)
      .startStamped(lines, checkpoint)
  }

  /** Rollup-at-rest for partitions older than `ageDays` (SURVEY §4 P4/P5). */
  def compact(ageDays: Int, stepSeconds: Int): Seq[String] =
    new Compaction(resolver).run(spark, dataPath, ageDays, stepSeconds)

  /** Retention-driven rollup-at-rest: each metric compacts to the step
    * its retention ladder prescribes at the partition's age — the
    * GraphiteMergeTree merge behavior.
    */
  def compactAuto(ageDays: Int): Seq[String] =
    new Compaction(resolver).runAuto(spark, dataPath, ageDays)

  /** Autohide sweep: junk metrics (few points, stale) → AUTO_HIDDEN rows. */
  def autoHide(maxValues: Long, missingSeconds: Long,
               nowSeconds: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val candidates = MetricSearchOps.autoHideCandidates(
      data, maxValues, nowSeconds - missingSeconds)
    MetricSearchOps.transitionRows(
      MetricSearchOps.currentTree(tree)
        .join(candidates.select(col("metric").as("name")), Seq("name"), "left_semi"),
      MetricStatus.AutoHidden, nowSeconds)
  }
}
