package graft.jobs

import graft.query.MetricQuery
import graft.retention.RetentionResolver
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Rollup-at-rest compaction — the Spark-native replacement for
  * GraphiteMergeTree background merges (reference `doc/install.md:181`,
  * SURVEY.md §4 P4/P5). Correctness never depends on it (every read
  * re-applies A1 dedup + A3 rollup); it reclaims storage and read cost
  * for aged partitions by rewriting them deduped and rolled up to the
  * retention step for their age.
  *
  * Scale design: operates partition-by-partition on the `date` layout
  * (only aged partitions are touched — partition pruning bounds the
  * rewrite), output is written sorted by (metric, timestamp) so parquet
  * row-group min/max stats give primary-key-range skipping on reads
  * (the MergeTree ORDER BY equivalent, SURVEY §4 P2).
  *
  * LAYOUT CONTRACT: applies to the PATH-BASED `date=` parquet layout.
  * A catalog-bucketed table (`sources.BucketedTables`) must NOT have
  * its files rewritten in place — bucket metadata lives in the catalog
  * and the rewritten files would no longer be bucket-hashed; compact a
  * bucketed table by rewriting the aged partitions through
  * `writeBucketed` (insert-overwrite by partition) instead.
  */
final class Compaction(resolver: RetentionResolver) extends Serializable {

  /** Compact one partition of the data table to `step` seconds using each
    * metric's retention function. Returns the compacted frame: one row
    * per (metric, bucket), with `updated` collapsed to its max so
    * later-arriving duplicates still lose at read time.
    */
  def compactPartition(part: DataFrame, step: Int): DataFrame =
    compactResolved(part.withColumn("step", lit(step)))

  /** Retention-driven variant: each metric rolls up to the step its OWN
    * retention ladder prescribes at `ageSeconds` (`MetricRetention
    * .stepFor`, reference `retention/MetricRetention.java:41-47`) — the
    * GraphiteMergeTree behavior, where one partition can hold metrics
    * compacting at different precisions.
    */
  def compactPartitionAuto(part: DataFrame, ageSeconds: Int): DataFrame = {
    val res = resolver
    val stepFor = udf((m: String) => res.resolve(m).stepFor(ageSeconds))
    compactResolved(part.withColumn("step", stepFor(col("metric"))))
  }

  /** Shared core: input carries a per-row `step`; the per-row bucket is
    * `ts - ts % step`, function resolution and the per-function grouped
    * passes are unchanged.
    */
  private def compactResolved(withStep: DataFrame): DataFrame = {
    val spark = withStep.sparkSession
    import spark.implicits._
    // resolve each metric's rollup function via the broadcast rule table
    val res = resolver
    val fnFor = udf((m: String) => res.resolve(m).function)
    val withFn = withStep.withColumn("fn", fnFor(col("metric")))
    val deduped = MetricQuery.dedupLatest(withFn, Seq("metric", "fn", "step", "timestamp"),
      "value", "updated")
    // one grouped pass per distinct function present (reference runs one
    // query per function group, MetricDataService.java:49-51)
    val fns = deduped.select("fn").distinct().as[String].collect().toSeq
    fns.map { fn =>
      val g = deduped.filter(col("fn") === fn)
        .groupBy(col("metric"),
          (col("timestamp") - (col("timestamp") % col("step"))).cast("int").as("timestamp"))
        .agg(
          MetricQuery.aggFor(fn, col("value"), col("updated")).as("value"),
          max(col("updated")).as("updated")
        )
      g
    }.reduceOption(_ unionByName _)
      // empty partition: emit an empty frame with the output schema
      .getOrElse(deduped.select("metric", "timestamp", "value", "updated").limit(0))
  }

  /** Rewrite every date partition older than `ageDays` at `step`
    * resolution. Parquet layout: `<root>/date=YYYY-MM-DD/`. Each
    * partition rewrites independently and the swap is crash-safe: the
    * originals are renamed aside BEFORE the staged output moves in, so a
    * crash at any point leaves either the originals (recoverable via
    * [[recover]], run automatically at the start of each invocation) or
    * the finished compacted output — never neither.
    *
    * The guarantee REQUIRES atomic directory rename (local FS, HDFS,
    * ABFS): on stores where rename is per-object copy+delete (s3a, gs) a
    * crash mid-rename splits a partition across two directories and
    * [[recover]] cannot distinguish that from a completed swap — such
    * stores need a manifest/commit-service based rewrite instead, and
    * [[run]]/[[runAuto]] log a warning when pointed at one.
    */
  def run(spark: SparkSession, root: String, ageDays: Int, step: Int,
          nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    rewriteAged(spark, root, ageDays, nowMillis)((part, _) => compactPartition(part, step))

  /** Retention-driven rewrite: every partition older than `ageDays`
    * compacts each metric to its retention-prescribed step at that
    * partition's age (P4 proper: precision ladders apply per metric).
    */
  def runAuto(spark: SparkSession, root: String, ageDays: Int,
              nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    rewriteAged(spark, root, ageDays, nowMillis) { (part, date) =>
      // age of the partition's NEWEST possible row (end of its day):
      // rollup is irreversible, so a row must only compact once its OWN
      // age passes the ladder threshold, never up to 24h early
      val age = (nowMillis / 1000L - (date.toEpochDay + 1) * 86400L).toInt
      compactPartitionAuto(part, age)
    }

  private def rewriteAged(spark: SparkSession, root: String, ageDays: Int, nowMillis: Long)(
      compact: (DataFrame, java.time.LocalDate) => DataFrame): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val cutoff = java.time.LocalDate.ofEpochDay(nowMillis / 86400000L - ageDays)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    val scheme = Option(rootPath.toUri.getScheme).getOrElse("file")
    if (Set("s3", "s3a", "s3n", "gs")(scheme))
      System.err.println(
        s"Compaction: $scheme rename is not atomic — the rename-aside swap is " +
        "not crash-safe here; use a manifest-committer based rewrite for object stores")
    recover(spark, root)
    val parts = fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("date="))
      .map(_.getPath.getName.stripPrefix("date="))
      .filter(d => java.time.LocalDate.parse(d).isBefore(cutoff))
      .sorted.toSeq
    parts.foreach { d =>
      val src = new Path(rootPath, s"date=$d")
      val stage = new Path(rootPath, s".compact_tmp_date=$d")
      val aside = new Path(rootPath, s".compact_old_date=$d")
      val compacted = compact(spark.read.parquet(src.toString), java.time.LocalDate.parse(d))
        .sortWithinPartitions("metric", "timestamp")
      compacted.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      // swap: originals go aside first, staged dir renames into place,
      // originals deleted last
      if (!fs.rename(src, aside))
        throw new java.io.IOException(s"compaction: cannot move $src aside")
      if (!fs.rename(stage, src)) {
        fs.rename(aside, src) // roll back
        throw new java.io.IOException(s"compaction: cannot activate staged $stage")
      }
      fs.delete(aside, true)
    }
    parts
  }

  /** Repair any partition left mid-swap by a crash: restore an
    * aside-renamed original whose `date=` dir is missing, and clear
    * leftover staging/aside dirs.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".compact_old_date=")) {
        val orig = new Path(rootPath, n.stripPrefix(".compact_old_"))
        if (!fs.exists(orig)) fs.rename(st.getPath, orig)
        else fs.delete(st.getPath, true) // swap completed; aside is stale
      } else if (n.startsWith(".compact_tmp_date=")) {
        fs.delete(st.getPath, true) // incomplete staging output
      }
    }
  }
}
