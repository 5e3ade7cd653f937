package graft

import graft.query.MetricQuery
import graft.sources.BucketedTables
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed data table: metric-keyed aggregation (the A1 dedup of the
  * read path) plans WITHOUT a shuffle, and results match the plain
  * layout.
  */
class BucketedTablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("metric-keyed dedup over the bucketed table is exchange-free") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val d = java.sql.Date.valueOf("1970-01-01")
    val points = Seq(
      ("m.a", 1.0, 100, d, 1), ("m.a", 2.0, 100, d, 5), // dup: updated=5 wins
      ("m.b", 3.0, 100, d, 1), ("m.b", 4.0, 160, d, 2),
      ("m.c", 9.0, 100, d, 1)
    ).toDF("metric", "value", "timestamp", "date", "updated")
    val table = s"graft_bucketed_${System.nanoTime()}"
    BucketedTables.writeBucketed(points, table, s"$dir/data", buckets = 4)
    try {
      val df = BucketedTables.read(spark, table)
      val dedup = df.groupBy($"metric", $"timestamp")
        .agg(org.apache.spark.sql.functions.max_by($"value", $"updated").as("value"))
      val physical = dedup.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed aggregation must not shuffle:\n$physical")
      // rollup on top of the dedup: still exchange-free (same key prefix)
      val rolled = MetricQuery.rollup(
        dedup.withColumn("updated", org.apache.spark.sql.functions.lit(0)), "avg", 60)
      assert(!rolled.queryExecution.executedPlan.toString.contains("Exchange"),
        "dedup->rollup chain must stay co-located")
      // correctness identical to the plain layout
      // date partitioning survives alongside the buckets (compaction
      // discovers its work by date= dirs)
      assert(new java.io.File(s"$dir/data").listFiles().exists(_.getName.startsWith("date=")))
      val got = dedup.as[(String, Int, Double)].collect().toSet
      assert(got == Set(("m.a", 100, 2.0), ("m.b", 100, 3.0), ("m.b", 160, 4.0), ("m.c", 100, 9.0)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("tree status dedup over the name-bucketed tree table is exchange-free") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_tree").toString
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2020-01-02 00:00:00")
    val tree = Seq(
      ("one_min.a.", 1, "one_min.", "SIMPLE", ts),
      ("one_min.a.", 1, "one_min.", "BAN", ts2),   // later status wins
      ("one_min.b.", 1, "one_min.", "APPROVED", ts)
    ).toDF("name", "level", "parent", "status", "updated")
    val table = s"graft_bucketed_tree_${System.nanoTime()}"
    // the tree table bucketed by name, sorted by (name, updated)
    tree.write.option("path", s"$dir/metrics").bucketBy(4, "name").sortBy("name", "updated")
      .format("parquet").saveAsTable(table)
    try {
      val df = BucketedTables.read(spark, table)
      val dedup = df.groupBy($"name").agg(max_by($"status", $"updated").as("last_status"))
      val physical = dedup.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"name-bucketed tree dedup must not shuffle:\n$physical")
      val got = dedup.as[(String, String)].collect().toSet
      assert(got === Set("one_min.a." -> "BAN", "one_min.b." -> "APPROVED"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
