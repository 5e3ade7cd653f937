package graft.streaming

import graft.ingest.LineParser
import graft.model.{MetricPoint, MetricStatus, TreeLimits, TreeNode}
import graft.names.MetricNames
import graft.search.MetricTrie
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
  * - The tree upsert reads the pipeline's serving snapshot
  *   ([[graft.search.MetricTrie]], the reference's in-memory
  *   `MetricTree`): each batch first refreshes it from the tree table's
  *   committed files (no Spark job unless another writer added a file,
  *   else one collect of those files), and the ban gate, the new nodes,
  *   the per-dir caps and the AUTO_HIDDEN revivals are decided on the
  *   driver from it (the reference's `MetricTree.modify` check). The
  *   batch's tree delta is committed from the driver as one file
  *   ([[graft.search.MetricTrie.append]]) and folded into the snapshot
  *   from memory, so no Spark job writes or re-reads it: a batch runs 2
  *   Spark jobs, the names collect and the data append. The first batch
  *   of a pipeline over an existing tree adds one collect, the
  *   snapshot's first build. An `updated` tie between tree files goes
  *   to the later-written file, as in every other snapshot read. Driver
  *   memory holds the whole tree as of the last refresh, as the
  *   reference's does, guarded by the trie's `maxNodes`. Status
  *   semantics stay read-side.
  */
final class IngestPipeline(
    parser: LineParser = new LineParser(),
    dataPath: String,
    treePath: String,
    limits: TreeLimits = TreeLimits.none,
    limitStatsPath: Option[String] = None
) extends Serializable {

  /** The tree as of the last batch's refresh. Batches run one at a time
    * on the driver, so one snapshot serves them all.
    */
  @transient private var trie: MetricTrie = MetricTrie.empty

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
    * Returns the refused names, dirs and metrics; existing children are
    * counted in the snapshot, of any status.
    */
  private def refusedByLimits(fresh: Seq[String]): Set[String] = {
    // existing + rank > max ⟺ the reference's size() >= max gate
    val over = fresh.groupBy(n => (MetricNames.parent(n), MetricNames.isDir(n))).flatMap {
      case ((parent, isDir), siblings) =>
        val max = if (isDir) limits.maxSubDirsPerDir else limits.maxMetricsPerDir
        val (dirs, metrics) = trie.childCounts(parent)
        val children = if (isDir) dirs else metrics
        siblings.sorted.zipWithIndex.collect { case (n, i) if max > 0 && children + i + 1 > max => n }
    }.toSet
    fresh.filter(n => ancestors(n).exists(over.contains)).toSet
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
    * The snapshot is refreshed first, and every per-name decision reads
    * it on the driver. Before the tree's first committed write it is
    * empty: a first batch. The tree delta is then committed and folded
    * into the snapshot without a Spark job.
    */
  def processBatch(points: Dataset[MetricPoint], batchId: Long): Unit = {
    val spark = points.sparkSession
    import spark.implicits._
    trie = trie.refresh(spark, treePath)
    val df = points.toDF().cache()
    try {
      // per-partition distinct, merged on the driver: one job, no shuffle
      val names = df.select("metric").as[String].mapPartitions(_.toSet.iterator).collect().distinct.toSeq
      val paths = names.map(n => n -> ancestors(n)).toMap
      // the reference ban gate rejects a metric when ANY dir on its path
      // is banned (`MetricTree.java:300-328`), so a banned subtree blocks
      // new children too, not just exact names
      val (banned, accepted) =
        names.partition(n => paths(n).exists(trie.statusOf(_).contains(MetricStatus.Ban.name)))
      val nodes = accepted.flatMap(paths).distinct
      val fresh = nodes.filter(trie.statusOf(_).isEmpty)
      val refused = if (limits.enabled && fresh.nonEmpty) refusedByLimits(fresh) else Set.empty[String]
      // points of refused metrics are dropped like the reference's
      // factory path (a null tree add drops the point,
      // `server/BaseMetricFactory.java`)
      val dropped = banned ++ accepted.filter(refused)
      // sort each written part by (metric, timestamp) — MergeTree sorts
      // every inserted part the same way; parquet row-group min/max
      // stats then give key-range skipping on fresh data, not just
      // compacted partitions. `date` leads the sort because the writer
      // needs its input ordered by the partition column: a sort without
      // it gets replaced by the writer's own sort on `date` alone. No
      // exchange before the write: hashing by metric would give every
      // file a min/max range over nearly all names.
      if (dropped.size < names.size)
        (if (dropped.isEmpty) df else df.filter(!col("metric").isin(dropped: _*)))
          .sortWithinPartitions("date", "metric", "timestamp")
          .write.mode("append").partitionBy("date").parquet(dataPath)
      val revived = nodes.filter(trie.statusOf(_).contains(MetricStatus.AutoHidden.name))
      val now = System.currentTimeMillis() / 1000
      // the trie-node creation of `MetricTree.modify`
      // (`search/tree/MetricTree.java:300-328`) as SIMPLE rows
      val delta = (fresh.filterNot(refused) ++ revived).map(n =>
        TreeNode(n, MetricNames.level(n), MetricNames.parent(n), MetricStatus.Simple.name, now))
      // one file per batch, committed from the driver and folded into
      // the snapshot from memory: the reference's in-memory tree never
      // re-reads what it saves either
      if (delta.nonEmpty)
        trie = trie.refresh(spark, treePath, Map(MetricTrie.append(spark, treePath, delta) -> delta))
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
