package graft.streaming

import graft.ingest.LineParser
import graft.model.{MetricPoint, TreeLimits}
import graft.names.MetricNames
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *   gate, the new nodes and the AUTO_HIDDEN revivals are decided on
  *   the driver (the reference's in-memory `MetricTree` check). Driver
  *   memory is bounded by the batch's distinct names plus their
  *   ancestors, never by the tree. Status semantics stay read-side.
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
    * called when limits are on AND a stats path is configured; the
    * count is cheap because [[applyTreeLimits]] checkpoints its flagged
    * frame.
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

  /** SIMPLE tree rows (name, level, parent, status, updated) for
    * `names`, as a local frame — the trie-node creation of
    * `MetricTree.modify` (`search/tree/MetricTree.java:300-328`).
    */
  def treeNodes(spark: SparkSession, names: Seq[String], updated: Long): DataFrame = {
    import spark.implicits._
    names.toDF("name").select(col("name"), levelCol(col("name")).as("level"),
      parentCol(col("name")).as("parent"), lit("SIMPLE").as("status"), lit(updated).as("updated"))
  }

  /** "a.b.c" → ["a.", "a.b.", "a.b.c"] as a pure column expression. */
  def ancestorsCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parts = split(name, "\\.")
    val n = size(parts)
    transform(sequence(lit(1), n), i =>
      when(i < n, concat(array_join(slice(parts, lit(1), i), "."), lit(".")))
        .otherwise(name))
  }

  /** The driver twin of [[ancestorsCol]]: every dir prefix, then the name. */
  def ancestors(name: String): Seq[String] =
    name.indices.collect { case i if name.charAt(i) == '.' => name.substring(0, i + 1) } :+ name

  def levelCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dots = size(split(name, "\\.")) - 1
    when(name.endsWith("."), dots).otherwise(dots + 1)
  }

  def parentCol(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stripped = when(name.endsWith("."), name.substr(lit(1), length(name) - 1)).otherwise(name)
    val plen = length(stripped) - length(substring_index(stripped, ".", -1))
    when(plen > 0, stripped.substr(lit(1), plen)).otherwise(lit(""))
  }

  /** Dir prefixes of a parent-dir name: "a.b." → ["a.", "a.b."]; "" → [].
    * (Every ancestor dir of a node, the node's parent included.)
    */
  private def dirPrefixesCol(parent: Column): Column = {
    val parts = split(parent, "\\.")
    when(length(parent) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(parts) - 1), i =>
        concat(array_join(slice(parts, lit(1), i), "."), lit("."))))
  }

  /** Per-dir growth caps on candidate NEW tree rows (reference
    * `MetricDir.getOrCreateDir/getOrCreateMetric`,
    * `search/tree/MetricDir.java:59-95`): a dir holding >= max children
    * of a kind refuses further NEW ones, and a refused dir refuses its
    * whole subtree (`MetricTreeTest.testMetricsLimit`: a metric 3 levels
    * under a refused dir is refused too). Within a batch, siblings are
    * admitted in name order (the reference admits in arrival order; a
    * relational batch has no arrival order, so name order is the
    * deterministic, replay-stable tie-break).
    *
    * Returns (accepted new nodes, refused names — dirs AND metrics).
    * Existing nodes are never refused (the reference returns the
    * existing entry before the size check); callers pass only NEW rows.
    * `existingCounts` is (parent, __is_dir, __children) for affected
    * parents, absent on the first batch.
    *
    * Scale: every frame is bounded by the batch's name count, not the
    * tree; the window partitions by (parent, kind) within the batch.
    */
  def applyTreeLimits(newNodes: DataFrame, existingCounts: Option[DataFrame]): (DataFrame, DataFrame) = {
    val spark = newNodes.sparkSession
    import spark.implicits._
    if (!limits.enabled) return (newNodes, Seq.empty[String].toDF("name"))
    val ranked = newNodes
      .withColumn("__is_dir", col("name").endsWith("."))
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("parent"), col("__is_dir")).orderBy(col("name"))))
    val withCounts = existingCounts match {
      case Some(c) => ranked.join(broadcast(c), Seq("parent", "__is_dir"), "left")
        .na.fill(0L, Seq("__children"))
      case None => ranked.withColumn("__children", lit(0L))
    }
    val maxFor = when(col("__is_dir"), lit(limits.maxSubDirsPerDir.toLong))
      .otherwise(lit(limits.maxMetricsPerDir.toLong))
    // refuse when the dir already holds max (existing + earlier batch
    // siblings): existing + rank > max ⟺ reference's size() >= max gate
    val flagged = withCounts
      .withColumn("__over", maxFor > 0 && (col("__children") + col("__rk")) > maxFor)
      .localCheckpoint() // the window + join feed BOTH outputs below; don't recompute
    val overNames = flagged.filter(col("__over")).select("name")
    // cascade: every node under a refused dir is refused with it
    val refusedByAncestor = flagged.filter(!col("__over"))
      .select(col("name"), explode(dirPrefixesCol(col("parent"))).as("__anc"))
      .join(overNames.select(col("name").as("__anc")), Seq("__anc"), "left_semi")
      .select("name").distinct()
    val refused = overNames.unionByName(refusedByAncestor)
    val accepted = flagged.filter(!col("__over"))
      .join(refusedByAncestor, Seq("name"), "left_anti")
      .drop("__is_dir", "__rk", "__children", "__over")
    (accepted, refused)
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
      val (banned, accepted) = names.partition(n => paths(n).exists(status.get(_).contains("BAN")))
      val nodes = accepted.flatMap(paths).distinct
      val now = System.currentTimeMillis() / 1000
      val fresh = nodes.filterNot(status.contains)
      val newNodes = treeNodes(spark, fresh, now)
      // per-dir caps on the NEW nodes only (existing nodes always pass,
      // reference returns the existing entry before the size check);
      // existing child counts bounded to the new nodes' parents. Points
      // of refused metrics are dropped like the reference's factory path
      // (a null tree add drops the point, `server/BaseMetricFactory.java`)
      val existingCounts = if (!limits.enabled) None else tree.map(_
        .join(broadcast(newNodes.select("parent").distinct()), Seq("parent"), "left_semi")
        .select(col("parent"), col("name")).distinct()
        .groupBy(col("parent"), col("name").endsWith(".").as("__is_dir"))
        .agg(count(lit(1)).as("__children")))
      val (acceptedNodes, refusedFrame) = applyTreeLimits(newNodes, existingCounts)
      val refused = refusedFrame.as[String].collect()
      val dropped = banned ++ refused.filterNot(_.endsWith("."))
      // sort each written part by (metric, timestamp) — MergeTree sorts
      // every inserted part the same way; parquet row-group min/max
      // stats then give key-range skipping on fresh data, not just
      // compacted partitions. No exchange before the write: hashing by
      // metric would give every file a min/max range over nearly all names.
      if (dropped.size < names.size)
        (if (dropped.isEmpty) df else df.filter(!col("metric").isin(dropped: _*)))
          .sortWithinPartitions("metric", "timestamp")
          .write.mode("append").partitionBy("date").parquet(dataPath)
      val revived = nodes.filter(status.get(_).contains("AUTO_HIDDEN"))
      // one file per batch, in name order: siblings share their parent
      // and level, which then compress to runs
      if (fresh.nonEmpty || revived.nonEmpty)
        acceptedNodes.unionByName(treeNodes(spark, revived, now))
          .coalesce(1).sortWithinPartitions("name").write.mode("append").parquet(treePath)
      if (limits.enabled && limitStatsPath.nonEmpty)
        recordRefusals(spark, refused.length.toLong, batchId)
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

  /** Wire a line stream end-to-end. Caller supplies the streaming source
    * (the custom TCP `MicroBatchStream` in production via
    * [[startStamped]]; any `Dataset[String]` here).
    */
  def start(lines: Dataset[String], checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    import lines.sparkSession.implicits._
    val p = parser
    lines
      .flatMap { l =>
        val now = (System.currentTimeMillis() / 1000).toInt
        p.parse(l, now)
      }
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[MetricPoint], id: Long) => processBatch(batch, id) }
      .start()
  }
}
