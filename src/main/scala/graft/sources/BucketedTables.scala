package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-layout support for the data table (SURVEY §4 P2/P6): the
  * cluster-scale equivalent of MergeTree's `ORDER BY (metric,
  * timestamp)` + `sipHash64(metric)` sharding. Writing the table
  * bucketed by `metric` (hash-partitioned files, sorted within buckets)
  * lets Catalyst plan every metric-keyed aggregation and join WITHOUT a
  * shuffle: the A1 dedup → A3 rollup chain — the whole read path —
  * becomes exchange-free, and two bucketed tables with the same bucket
  * count co-locate joins.
  *
  * Bucketing rides Spark's table catalog (`saveAsTable` with an
  * explicit `path` = external table), because bucket metadata lives in
  * the catalog, not in parquet. Plain-path readers still work — they
  * just don't get the shuffle elimination.
  */
object BucketedTables {

  /** Write `points` (metric, value, timestamp, date, updated) as an
    * external bucketed table at `path`. `buckets` should approximate
    * cluster parallelism at the target scale — at 100 TB, thousands.
    *
    * Keeps `partitionBy("date")` alongside the buckets: date dirs are
    * what the time-range predicate prunes AND what the retention
    * compaction job discovers its work by (`jobs.Compaction` scans for
    * `date=` dirs) — a bucketed-but-unpartitioned layout would silently
    * disable both.
    */
  def writeBucketed(points: DataFrame, table: String, path: String, buckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    points.write
      .mode(mode)
      .option("path", path)
      .partitionBy("date")
      .bucketBy(buckets, "metric")
      .sortBy("metric", "timestamp")
      .format("parquet")
      .saveAsTable(table)

  /** The bucketed table as a DataFrame (bucket metadata attached). */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
