package graft.api

import graft.model.{MetricPoint, MetricStatus, TreeNode}
import graft.names.MetricNames
import graft.query.{MetricQuery, QueryParams}
import graft.retention.{Retention, RetentionResolver, RetentionRule}
import graft.search.{MetricSearchOps, MetricTrie}
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
  * workflow maps 1:1. Point reads and rewrites run as Spark plans; tree
  * state, status writes included, resolves in one driver-side snapshot.
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

  /** Raw append-only tables, read with the model's schema (no
    * schema-inference job per read).
    */
  def data: DataFrame = spark.read.schema(MetricPoint.tableSchema).parquet(dataPath)
  def tree: DataFrame = spark.read.schema(TreeNode.tableSchema).parquet(treePath)

  /** Current logical tree state (latest status per name). */
  def currentTree: DataFrame = MetricSearchOps.currentTree(tree)

  /** §3.2 — glob search over visible tree nodes, with per-dir limit
    * notification rows when [[treeLimits]] caps are configured: the
    * serving snapshot, refreshed first, as a local (name, status) frame.
    * Like [[metricData]], it sees every committed tree write and runs a
    * Spark job only when tree files are new.
    */
  def search(query: String): DataFrame = {
    import spark.implicits._
    refreshedTrie().searchWithLimits(query, treeLimits).toDF("name", "status")
  }

  /** The serving snapshot: a driver-side trie of the current tree (the
    * reference's in-memory `MetricTree`), keyed by the tree table's
    * committed files, so it is exact as of its last refresh
    * ([[MetricTrie.refresh]]). None until first built. Every read and
    * status write of the tree goes through it.
    */
  @volatile private var trie: Option[MetricTrie] = None

  /** Refreshes the snapshot and returns it. Refreshes are serialized, and
    * a caller reads the instance it got back, never one another thread
    * swaps in later.
    */
  private def refreshedTrie(): MetricTrie = synchronized {
    val t = trie.getOrElse(MetricTrie.empty).refresh(spark, treePath)
    trie = Some(t)
    t
  }

  /** Brings the serving snapshot up to the tree table's committed files:
    * no Spark job when no tree file is new, one collect of the new
    * files' rows otherwise. Writes from other processes (or other
    * facades) and back-dated stamps are seen like any other write; this
    * facade's own status writes are folded in as they commit.
    */
  def refreshSearchCache(): Unit = refreshedTrie()

  /** [[search]] without the refresh: no Spark job, the same rows as
    * [[search]] as of the last refresh (or of the first call, which
    * builds the snapshot), plus this facade's status writes since.
    */
  def searchCached(query: String): Seq[(String, String)] =
    trie.getOrElse(refreshedTrie()).searchWithLimits(query, treeLimits)

  /** §3.1 — the full read path: expand patterns, group matched metrics
    * by retention function, run dedup→rollup→gapfill per group (the
    * reference runs one ClickHouse query per function group,
    * `data/MetricDataService.java:49-51,86-98`), pad unmatched names
    * with all-null series. Returns `Dataset[Series]`-shaped rows
    * (metric, start, end, step, points).
    *
    * The patterns expand against the serving snapshot, refreshed first
    * ([[refreshSearchCache]]), so the expansion sees every committed tree
    * write and runs a Spark job only when tree files are new. Spark jobs
    * per request: one per function group for the map stage of that
    * group's one shuffle in [[MetricQuery.metricData]] (which also
    * carries the padding), and one for the result: 2 for a single group,
    * plus one collect when the refresh has new tree files to fold in.
    * This facade's own status writes are folded in as they are
    * written, so they never count as new here.
    * The data table is read with the model's schema, so no read infers
    * one.
    */
  def metricData(patterns: Seq[String], startSeconds: Int, endSeconds: Int,
                 maxPointsPerMetric: Int = -1,
                 nowSeconds: Long = System.currentTimeMillis() / 1000): DataFrame = {
    // request cap BEFORE any expansion or scan — one fat dashboard
    // request must not fan an unbounded IN-list into the data scan
    // (reference refuses with 413, MetricDataServiceServlet.java:58-64)
    if (maxMetricsPerQuery > 0 && patterns.size > maxMetricsPerQuery)
      throw new TooManyMetricsException(patterns.size, maxMetricsPerQuery)
    val distinctPatterns = patterns.distinct
    val exactNames = distinctPatterns.filterNot(graft.names.Glob.hasWildcards)
    // ONE snapshot serves both glob expansion and the exact-name
    // visibility gate (an exact name is a literal glob): a banned/
    // hidden/unknown metric is not readable by naming it directly — it
    // keeps its all-null series (reference resolves every requested
    // name through the tree, J4 pads the rest)
    val matchedVisible: Seq[String] =
      if (distinctPatterns.isEmpty) Seq.empty
      else {
        val snapshot = refreshedTrie()
        distinctPatterns.flatMap(snapshot.search).map(_._1).filterNot(MetricNames.isDir).distinct.sorted
      }
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

  /** Status management (ban/approve/hide/...), the reference's
    * `MetricTree.modify`: the names `pattern` selects in the refreshed
    * snapshot ([[MetricTrie.matching]]) move to `status` through the
    * restricted graph ([[MetricTrie.transitions]]). No Spark job runs on
    * a built snapshot with no new file; a write that changes nothing,
    * before the tree's first write too, commits nothing. An `updated` tie
    * goes to the later-written file; pass a monotonic `nowSeconds` when
    * ordering matters.
    */
  def setStatus(pattern: String, status: MetricStatus,
                nowSeconds: Long = System.currentTimeMillis() / 1000): Unit =
    transition(_.matching(pattern), status, nowSeconds)

  /** One status write, decided and committed under the facade's lock so
    * two writes never decide from one snapshot: the rows are appended as
    * one tree file and folded into the snapshot from memory.
    */
  private def transition(select: MetricTrie => Seq[String], status: MetricStatus,
                         nowSeconds: Long): Seq[TreeNode] = synchronized {
    val t = refreshedTrie()
    val rows = t.transitions(select(t), status, nowSeconds)
    if (rows.nonEmpty) {
      val file = MetricTrie.append(spark, treePath, rows)
      trie = Some(t.refresh(spark, treePath, Map(file -> rows)))
    }
    rows
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

  /** Autohide sweep (reference `AutoHideService.java:129-137`): the
    * metrics one aggregate over the data finds junk (few points, stale)
    * move to AUTO_HIDDEN like a [[setStatus]], persisted; ingest revives
    * one that sends again. Returns the rows written, as a local frame.
    */
  def autoHide(maxValues: Long, missingSeconds: Long,
               nowSeconds: Long = System.currentTimeMillis() / 1000): DataFrame = {
    import spark.implicits._
    val candidates = MetricSearchOps.autoHideCandidates(data, maxValues, nowSeconds - missingSeconds)
      .select("metric").as[String].collect().toSeq
    transition(_ => candidates, MetricStatus.AutoHidden, nowSeconds).toDF()
  }
}
