package graft.streaming

import graft.ingest.LineParser
import graft.model.{MetricPoint, MetricStatus, TreeLimits, TreeNode}
import graft.names.MetricNames
import graft.search.MetricSearchOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest (SURVEY.md §3.3): graphite plaintext
  * lines → validated, enriched points appended to the data table, plus
  * new tree nodes upserted into the metric-tree table — the reference's
  * MetricServer + MetricCacher + UpdateMetricQueueService collapsed into
  * one `foreachBatch` dual sink (reference micro-batching config:
  * `cacher/MetricCacher.java:49-59`; tree save:
  * `save/UpdateMetricQueueService.java:87-130`).
  *
  * Design notes for scale:
  * - Parsing is a typed `flatMap` at the boundary (per SURVEY §1.4) —
  *   the one place imperative validation logic lives.
  * - The data sink is an idempotent append partitioned by `date` so
  *   replays of a batch overwrite-or-duplicate safely: duplicates
  *   collapse at read time via A1 dedup (reference T4 semantics —
  *   at-least-once insert + version collapse).
  * - No watermark: arbitrarily-late points are accepted by design
  *   (reference T3, `server/BaseMetricFactory.java:70-73`).
  * - The tree upsert is one lookup plus driver decisions: the batch's
  *   distinct names and their ancestor dirs are looked up in the tree
  *   in one filtered `max_by(status, updated)` aggregate, and the ban
  *   gate, the new nodes, the per-dir caps and the AUTO_HIDDEN revivals
  *   are decided on the driver (the reference's in-memory `MetricTree`
  *   check). With caps on, the new nodes' parents add one child-count
  *   collect. Driver memory is bounded by the batch's distinct names
  *   plus their ancestors, never by the tree. Status semantics stay
  *   read-side.
  */
final class IngestPipeline(
    parser: LineParser = new LineParser(),
    dataPath: String,
    treePath: String,
    limits: TreeLimits = TreeLimits.none,
    limitStatsPath: Option[String] = None
) extends Serializable {

  /** Append a per-batch tree-limit refusal count to the stats table
    * (same self-metric schema as [[IngestStatsListener]], so a full-dir
    * ingest pathology is visible on a dashboard, not just in logs —
    * the reference counts these through its statistics service). Only
    * called when limits are on AND a stats path is configured.
    *
    * `timestamp` is WALL CLOCK (so timestamp-ranged reads and
    * timestamp-based retention see the series at its true age) and the
    * replay-dedup key is the separate `batch_id` column: a replayed
    * batch (T4 at-least-once) re-appends the same (metric, batch_id)
    * and a reader collapses with `max_by(value, updated)` per
    * (metric, batch_id) — the A1 idiom, keyed on the batch instead of
    * the timestamp. (An earlier design wrote `timestamp = batchId` to
    * reuse the stock A1 key, but that rendered the series at 1970 on
    * any time-axis consumer and mis-aged it under retention.)
    *
    * MIGRATION (pre-round-6 stats paths): old refusal rows have no
    * `batch_id` column and carry the batch id IN `timestamp`. Read a
    * mixed directory with `option("mergeSchema", true)` and key the
    * dedup on `coalesce(batch_id, timestamp)` — exactly the batch id
    * under both schemas (`TreeLimitsSpec` pins the mixed read).
    */
  private def recordRefusals(spark: SparkSession, nRefused: Long, batchId: Long): Unit =
    limitStatsPath.foreach { path =>
      import spark.implicits._
      val now = (System.currentTimeMillis() / 1000).toInt
      Seq(("one_min.graft.ingest.tree_limit_refused", nRefused.toDouble))
        .toDF("metric", "value")
        .select(col("metric"), col("value"), lit(now).as("timestamp"),
          to_date(from_unixtime(lit(now.toLong))).as("date"), lit(now).as("updated"),
          lit(batchId).as("batch_id"))
        .coalesce(1)
        .write.mode("append").partitionBy("date").parquet(path)
    }

  /** Parse a micro-batch of raw lines into points. */
  def parseBatch(lines: Dataset[String], updatedSeconds: Int): Dataset[MetricPoint] = {
    import lines.sparkSession.implicits._
    val p = parser
    lines.flatMap(l => p.parse(l, updatedSeconds))
  }

  /** The dir prefixes of a name, then the name: "a.b.c" → ["a.", "a.b.", "a.b.c"]. */
  def ancestors(name: String): Seq[String] =
    name.indices.collect { case i if name.charAt(i) == '.' => name.substring(0, i + 1) } :+ name

  /** Per-dir growth caps on the batch's NEW tree nodes (reference
    * `MetricDir.getOrCreateDir/getOrCreateMetric`,
    * `search/tree/MetricDir.java:59-95`): a dir holding >= max children
    * of a kind refuses further NEW ones, and a refused dir refuses its
    * whole subtree (`MetricTreeTest.testMetricsLimit`: a metric 3 levels
    * under a refused dir is refused too). Within a batch, siblings are
    * admitted in name order (the reference admits in arrival order; a
    * relational batch has no arrival order, so name order is the
    * deterministic, replay-stable tie-break). Existing nodes are never
    * refused (the reference returns the existing entry before the size
    * check).
    *
    * Returns the refused names, dirs and metrics. The existing child
    * counts come back in one collect bounded by the fresh nodes'
    * parents, not the tree.
    */
  private def refusedByLimits(tree: Option[DataFrame], fresh: Seq[String]): Set[String] = {
    val parents = fresh.map(MetricNames.parent).distinct
    val existing: Map[(String, Boolean), Long] = tree.fold(Map.empty[(String, Boolean), Long]) { t =>
      MetricSearchOps.childCounts(t.filter(col("parent").isin(parents: _*)))
        .collect().map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    }
    // existing + rank > max ⟺ the reference's size() >= max gate
    val over = fresh.groupBy(n => (MetricNames.parent(n), MetricNames.isDir(n))).flatMap {
      case (key @ (_, isDir), siblings) =>
        val max = if (isDir) limits.maxSubDirsPerDir else limits.maxMetricsPerDir
        val children = existing.getOrElse(key, 0L)
        siblings.sorted.zipWithIndex.collect { case (n, i) if max > 0 && children + i + 1 > max => n }
    }.toSet
    fresh.filter(n => ancestors(n).exists(over.contains)).toSet
  }

  /** The tree table, or None before its first committed write.
    * Explicit existence check, NOT a catch-all: a transient read error
    * (corrupt file, FS hiccup) must fail the batch so streaming retry
    * semantics stay visible, instead of silently re-appending the whole
    * tree every batch.
    */
  private def readTree(spark: SparkSession): Option[DataFrame] = {
    val treeP = new org.apache.hadoop.fs.Path(treePath)
    if (!treeP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(treeP)) None
    else
      try Some(spark.read.parquet(treePath))
      catch {
        // dir exists but holds no committed parquet (crash mid-first-
        // write left only _temporary/_SUCCESS): a PERMANENT state the
        // retry loop can never clear — treat as first batch. Other
        // read errors still fail the batch (retry stays visible).
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("Unable to infer schema") => None
      }
  }

  /** One micro-batch: drop banned metrics, append points, upsert new
    * tree names, revive AUTO_HIDDEN metrics that are sending again.
    * Idempotency: replayed batches re-append (duplicates resolved by
    * read-side A1) — the reference makes the same trade (retry-forever
    * inserts, T4). Ban gate and revival mirror the reference's factory
    * path: banned names are dropped before the queue
    * (`MetricTree.java:306-309`), a written metric's status goes through
    * the transition graph where AUTO_HIDDEN → SIMPLE is allowed (T6
    * "reopens on new data").
    *
    * The tree is read once: the current status of the batch's names and
    * their ancestor dirs comes back in one collect, and every per-name
    * decision is made on the driver. A first batch is an empty status map.
    * Per-dir caps add one child-count collect for the new nodes' parents.
    */
  def processBatch(points: Dataset[MetricPoint], batchId: Long): Unit = {
    val spark = points.sparkSession
    import spark.implicits._
    val df = points.toDF().cache()
    try {
      // per-partition distinct, merged on the driver: one job, no shuffle
      val names = df.select("metric").as[String].mapPartitions(_.toSet.iterator).collect().distinct.toSeq
      val paths = names.map(n => n -> ancestors(n)).toMap
      val tree = readTree(spark)
      // the batch's paths as a set filter: the aggregation is bounded by
      // the batch, not the tree
      val status: Map[String, String] = tree.fold(Map.empty[String, String]) { t =>
        t.filter(col("name").isin(paths.values.flatten.toSeq.distinct: _*))
          .groupBy("name").agg(max_by(col("status"), col("updated")))
          .as[(String, String)].collect().toMap
      }
      // the reference ban gate rejects a metric when ANY dir on its path
      // is banned (`MetricTree.java:300-328`), so a banned subtree blocks
      // new children too, not just exact names
      val (banned, accepted) =
        names.partition(n => paths(n).exists(status.get(_).contains(MetricStatus.Ban.name)))
      val nodes = accepted.flatMap(paths).distinct
      val fresh = nodes.filterNot(status.contains)
      val refused =
        if (limits.enabled && fresh.nonEmpty) refusedByLimits(tree, fresh) else Set.empty[String]
      // points of refused metrics are dropped like the reference's
      // factory path (a null tree add drops the point,
      // `server/BaseMetricFactory.java`)
      val dropped = banned ++ accepted.filter(refused)
      // sort each written part by (metric, timestamp) — MergeTree sorts
      // every inserted part the same way; parquet row-group min/max
      // stats then give key-range skipping on fresh data, not just
      // compacted partitions. No exchange before the write: hashing by
      // metric would give every file a min/max range over nearly all names.
      if (dropped.size < names.size)
        (if (dropped.isEmpty) df else df.filter(!col("metric").isin(dropped: _*)))
          .sortWithinPartitions("metric", "timestamp")
          .write.mode("append").partitionBy("date").parquet(dataPath)
      val revived = nodes.filter(status.get(_).contains(MetricStatus.AutoHidden.name))
      val now = System.currentTimeMillis() / 1000
      // the trie-node creation of `MetricTree.modify`
      // (`search/tree/MetricTree.java:300-328`) as SIMPLE rows
      val delta = (fresh.filterNot(refused) ++ revived).map(n =>
        TreeNode(n, MetricNames.level(n), MetricNames.parent(n), MetricStatus.Simple.name, now))
      // one file per batch, in name order: siblings share their parent
      // and level, which then compress to runs
      if (delta.nonEmpty)
        delta.toDS().coalesce(1).sortWithinPartitions("name").write.mode("append").parquet(treePath)
      if (limits.enabled && limitStatsPath.nonEmpty)
        recordRefusals(spark, refused.size.toLong, batchId)
    } finally df.unpersist()
  }

  /** Wire a (line, updated) stream — the shape [[GraphiteSourceProvider]]
    * emits, with receive-time stamping done at the socket (reference
    * `MetricServer` semantics) rather than at parse time.
    */
  def startStamped(lines: DataFrame, checkpoint: String,
                   trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    import lines.sparkSession.implicits._
    val p = parser
    lines.select(col("line"), col("updated")).as[(String, Int)]
      .flatMap { case (l, updated) => p.parse(l, updated) }
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[MetricPoint], id: Long) => processBatch(batch, id) }
      .start()
  }

  /** Wire a line stream end-to-end, stamping each line with the wall
    * clock when it is parsed. Caller supplies the streaming source (the
    * custom TCP `MicroBatchStream` in production goes to [[startStamped]]
    * directly; any `Dataset[String]` here).
    */
  def start(lines: Dataset[String], checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    import lines.sparkSession.implicits._
    startStamped(lines.map(l => (l, (System.currentTimeMillis() / 1000).toInt)).toDF("line", "updated"),
      checkpoint, trigger)
  }
}
