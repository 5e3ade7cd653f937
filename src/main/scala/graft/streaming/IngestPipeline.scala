package graft.streaming

import scala.collection.mutable

import graft.ingest.LineParser
import graft.model.{MetricPoint, MetricStatus, TreeLimits, TreeNode}
import graft.names.MetricNames
import graft.search.MetricTrie
import graft.sources.PartWriter
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * - The data sink is the reference's one bulk INSERT per batch
  *   (`cacher/MetricCacher.java:305-319`) as one Spark job: each task
  *   sorts its rows by (date, metric, timestamp) with Spark's spillable
  *   sort, drops the rows under a banned path, streams the rest into one
  *   parquet part per date under the batch's staging dir and returns its
  *   part paths and its distinct metric names. The driver commits each
  *   part by renaming it into `date=D/` ([[graft.sources.PartWriter]]),
  *   so no commit protocol, `_SUCCESS` or job rename runs. Appends are
  *   idempotent in effect: a replayed batch re-appends, and the
  *   duplicates collapse at read time via A1 dedup (reference T4
  *   semantics — at-least-once insert + version collapse).
  * - No watermark: arbitrarily-late points are accepted by design
  *   (reference T3, `server/BaseMetricFactory.java:70-73`).
  * - The tree upsert reads the pipeline's serving snapshot
  *   ([[graft.search.MetricTrie]], the reference's in-memory
  *   `MetricTree`): each batch first refreshes it from the tree table's
  *   committed files (no Spark job unless another writer added a file,
  *   else one collect of those files). Its BAN names ride in the data
  *   job's closure, and the new nodes, the per-dir caps and the
  *   AUTO_HIDDEN revivals are decided on the driver from it and the
  *   job's names (the reference's `MetricTree.modify` check). The
  *   batch's tree delta is committed from the driver as one file
  *   ([[graft.search.MetricTrie.append]]), after the data parts, and
  *   folded into the snapshot from memory, so no Spark job writes or
  *   re-reads it: a batch runs 1 Spark job. The first batch of a
  *   pipeline over an existing tree adds one collect, the snapshot's
  *   first build; a batch whose caps refuse a name adds one more data
  *   job. An `updated` tie between tree files goes to the later-written
  *   file, as in every other snapshot read. Driver memory holds the
  *   whole tree as of the last refresh, as the reference's does, guarded
  *   by the trie's `maxNodes`. Status semantics stay read-side.
  */
final class IngestPipeline(
    parser: LineParser = new LineParser(),
    dataPath: String,
    treePath: String,
    limits: TreeLimits = TreeLimits.none,
    limitStatsPath: Option[String] = None
) extends Serializable {
  import IngestPipeline._

  /** The tree as of the last batch's refresh. Batches run one at a time
    * on the driver, so one snapshot serves them all.
    */
  @transient private var trie: MetricTrie = MetricTrie.empty

  /** Append a per-batch tree-limit refusal count to the stats table
    * (same self-metric schema as [[IngestStatsListener]], so a full-dir
    * ingest pathology is visible on a dashboard, not just in logs —
    * the reference counts these through its statistics service). Only
    * called when limits are on AND a stats path is configured. The one
    * row is committed from the driver into `date=D/` through the shared
    * writer, so it runs no Spark job.
    *
    * `timestamp` is WALL CLOCK (so timestamp-ranged reads and
    * timestamp-based retention see the series at its true age) and the
    * replay-dedup key is the separate `batch_id` column: a replayed
    * batch (T4 at-least-once) re-appends the same (metric, batch_id)
    * and a reader collapses with `max_by(value, updated)` per
    * (metric, batch_id) — the A1 idiom, keyed on the batch instead of
    * the timestamp.
    */
  private def recordRefusals(spark: SparkSession, nRefused: Long, batchId: Long): Unit =
    limitStatsPath.foreach { path =>
      val now = (System.currentTimeMillis() / 1000).toInt
      val date = java.time.Instant.ofEpochSecond(now)
        .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)).toLocalDate
      PartWriter.append(spark, path, statsSchema,
        Seq(Seq("one_min.graft.ingest.tree_limit_refused", nRefused.toDouble, now, now, batchId)), s"date=$date")
    }

  /** Parse a micro-batch of raw lines into points. */
  def parseBatch(lines: Dataset[String], updatedSeconds: Int): Dataset[MetricPoint] = {
    import lines.sparkSession.implicits._
    val p = parser
    lines.flatMap(l => p.parse(l, updatedSeconds))
  }

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
    * The snapshot is refreshed first. Before the tree's first committed
    * write it is empty: a first batch. Then one Spark job ([[stageParts]])
    * drops the rows under the snapshot's BAN names, stages the rest as
    * sorted data parts and returns the batch's names; every other
    * per-name decision reads the snapshot on the driver. A batch whose
    * caps refuse a name deletes its staged parts and stages once more
    * without the refused metrics. The driver then commits the parts by
    * rename, before the tree delta, so a crash leaves at most data with
    * no tree rows, which a replay completes. The tree delta is committed
    * and folded into the snapshot without a Spark job. The batch's
    * staging dir is deleted on success and on failure alike.
    */
  def processBatch(points: Dataset[MetricPoint], batchId: Long): Unit = {
    val spark = points.sparkSession
    trie = trie.refresh(spark, treePath)
    val banned = trie.banned
    val (nodes, fresh, refused) = PartWriter.staged(spark, dataPath) { stage =>
      val staged = stageParts(points, stage, banned, Set.empty)
      val names = staged.flatMap(_.names).distinct.toSeq
      val nodes = names.flatMap(ancestors).distinct
      val fresh = nodes.filter(trie.statusOf(_).isEmpty)
      val refused = if (limits.enabled && fresh.nonEmpty) refusedByLimits(fresh) else Set.empty[String]
      // points of refused metrics are dropped like the reference's
      // factory path (a null tree add drops the point,
      // `server/BaseMetricFactory.java`)
      val dropped = names.filter(refused).toSet
      val parts =
        if (dropped.isEmpty) staged
        else {
          stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
          stageParts(points, stage, banned, dropped)
        }
      PartWriter.commit(spark, stage, dataPath, parts.flatMap(_.files).toSeq)
      (nodes, fresh, refused)
    }
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

object IngestPipeline {

  /** The dir prefixes of a name, then the name: "a.b.c" → ["a.", "a.b.", "a.b.c"]. */
  def ancestors(name: String): Seq[String] =
    name.indices.collect { case i if name.charAt(i) == '.' => name.substring(0, i + 1) } :+ name

  /** The refusal-stats table's columns, `date` aside. */
  private val statsSchema = StructType(MetricPoint.fileSchema :+ StructField("batch_id", LongType, nullable = false))

  /** One task's output: its staged parts, as paths relative to the
    * staging dir, and the distinct metrics it kept.
    */
  private final case class Staged(files: Seq[String], names: Seq[String])

  /** The batch's Spark job. Each task sorts its rows by (date, metric,
    * timestamp) — MergeTree sorts every inserted part the same way, and
    * parquet row-group min/max stats then give key-range skipping on
    * fresh data, not just compacted partitions. It drops the rows of a
    * metric in `dropped` or under a name in `banned` (the reference ban
    * gate rejects a metric when ANY dir on its path is banned,
    * `MetricTree.java:300-328`, so a banned subtree blocks new children
    * too), and streams the rest into one part per date at
    * `date=D/part-…` under `stage`. No exchange comes before it: hashing
    * by metric would give every part a min/max range over nearly all
    * names.
    */
  private def stageParts(points: Dataset[MetricPoint], stage: Path, banned: Set[String],
                         dropped: Set[String]): Array[Staged] = {
    val fmt = PartWriter.format(points.sparkSession, MetricPoint.fileSchema)
    val dir = stage.toString
    points.sortWithinPartitions("date", "metric", "timestamp").rdd.mapPartitions { rows =>
      val kept = mutable.HashMap.empty[String, Boolean]
      val in = rows.filter(p => kept.getOrElseUpdate(p.metric,
        !dropped(p.metric) && !(banned.nonEmpty && ancestors(p.metric).exists(banned)))).buffered
      val files = mutable.ArrayBuffer.empty[String]
      while (in.hasNext) {
        val date = in.head.date
        val file = s"date=${date.toLocalDate}/${fmt.partName(TaskContext.getPartitionId())}"
        fmt.write(new Path(dir, file), new Iterator[Seq[Any]] {
          def hasNext: Boolean = in.hasNext && in.head.date == date
          def next(): Seq[Any] = { val p = in.next(); Seq(p.metric, p.value, p.timestamp, p.updated) }
        })
        files += file
      }
      Iterator.single(Staged(files.toSeq, kept.collect { case (m, true) => m }.toSeq))
    }.collect()
  }
}
