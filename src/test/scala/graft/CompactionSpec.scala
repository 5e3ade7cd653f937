package graft

import graft.jobs.Compaction
import graft.retention.{Retention, RetentionResolver, RetentionRule}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rollup-at-rest: aged partitions rewritten deduped + rolled up;
  * read-side results unchanged (the invariant that makes compaction a
  * pure storage optimization).
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("compactPartition dedups then rolls up per retention function") {
    val rules = Seq(
      RetentionRule("^agg_max", isDefault = false, "max", Seq(0 -> 60)),
      RetentionRule(".*", isDefault = true, "avg", Seq(0 -> 60))
    )
    val comp = new Compaction(new RetentionResolver(rules))
    val part = Seq(
      // duplicate (metric, ts): updated=5 wins with value 20.0
      ("m.a", 10.0, 100, 1), ("m.a", 20.0, 100, 5),
      ("m.a", 40.0, 110, 2),              // same 60s bucket as ts=100
      ("agg_max.b", 1.0, 100, 1), ("agg_max.b", 9.0, 110, 2)
    ).toDF("metric", "value", "timestamp", "updated")
    val out = comp.compactPartition(part, 60)
      .select("metric", "timestamp", "value").as[(String, Int, Double)].collect().toSet
    assert(out == Set(("m.a", 60, 30.0), ("agg_max.b", 60, 9.0)))
  }

  test("run rewrites only aged date partitions and preserves read results") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val rows = Seq(
      ("m.x", 1.0, 100, java.sql.Date.valueOf("2024-01-01"), 1),
      ("m.x", 2.0, 100, java.sql.Date.valueOf("2024-01-01"), 9), // dup, wins
      ("m.x", 5.0, 110, java.sql.Date.valueOf("2024-01-01"), 2),
      ("m.x", 7.0, 200, java.sql.Date.valueOf("2024-06-01"), 3)  // recent: untouched
    ).toDF("metric", "value", "timestamp", "date", "updated")
    val dataRoot = s"$root/data"
    rows.write.partitionBy("date").parquet(dataRoot)

    val comp = new Compaction(Retention.defaultResolver)
    val now = java.sql.Timestamp.valueOf("2024-06-02 00:00:00").getTime
    val done = comp.run(spark, dataRoot, ageDays = 30, step = 60, nowMillis = now)
    assert(done == Seq("2024-01-01"))

    val after = spark.read.parquet(dataRoot)
    assert(after.filter($"date" === "2024-06-01").count() == 1, "recent partition untouched")
    val old = after.filter($"date" === "2024-01-01")
      .select("metric", "timestamp", "value").as[(String, Int, Double)].collect().toSet
    // avg(argMax over ts100=2.0, ts110=5.0) in one 60s bucket
    assert(old == Set(("m.x", 60, 3.5)))
  }

  test("compactPartitionAuto applies each metric's own retention step at the partition age") {
    val comp = new Compaction(Retention.defaultResolver)
    // age 10 days: one_min ladder (7d -> 300s) gives step 300;
    // one_hour ladder stays at 3600 until 1 year
    val part = Seq(
      ("one_min.a.b", 10.0, 100, 1), ("one_min.a.b", 30.0, 350, 2),   // buckets 0 and 300
      ("one_hour.c.d", 5.0, 100, 1), ("one_hour.c.d", 7.0, 350, 2)    // one 3600 bucket
    ).toDF("metric", "value", "timestamp", "updated")
    val out = comp.compactPartitionAuto(part, ageSeconds = 10 * 86400)
      .select("metric", "timestamp", "value").as[(String, Int, Double)].collect().toSet
    assert(out == Set(
      ("one_min.a.b", 0, 10.0), ("one_min.a.b", 300, 30.0),
      ("one_hour.c.d", 0, 6.0)))
  }

  test("runAuto rewrites aged partitions with retention-driven steps") {
    val root = java.nio.file.Files.createTempDirectory("graft_compauto").toString
    val dataRoot = s"$root/data"
    Seq(
      ("one_min.x.y", 2.0, 100, java.sql.Date.valueOf("2024-01-01"), 1),
      ("one_min.x.y", 4.0, 350, java.sql.Date.valueOf("2024-01-01"), 2)
    ).toDF("metric", "value", "timestamp", "date", "updated")
      .write.partitionBy("date").parquet(dataRoot)
    val comp = new Compaction(Retention.defaultResolver)
    // 2024-02-01: partition is 31 days old -> one_min step 300
    val now = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    assert(comp.runAuto(spark, dataRoot, ageDays = 7, nowMillis = now) == Seq("2024-01-01"))
    val got = spark.read.parquet(dataRoot)
      .select("metric", "timestamp", "value").as[(String, Int, Double)].collect().toSet
    assert(got == Set(("one_min.x.y", 0, 2.0), ("one_min.x.y", 300, 4.0)))
  }

  test("runAuto reads each aged partition with the model's schema: no schema-inference job") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_jobs").toString
    val dataRoot = s"$root/data"
    val dates = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
    dates.flatMap(d => Seq(("one_min.x.y", 2.0, 100, java.sql.Date.valueOf(d), 1),
      ("one_min.x.y", 4.0, 350, java.sql.Date.valueOf(d), 2), ("one_hour.c.d", 5.0, 100, java.sql.Date.valueOf(d), 1)))
      .toDF("metric", "value", "timestamp", "date", "updated")
      .write.partitionBy("date").parquet(dataRoot)
    val comp = new Compaction(Retention.defaultResolver)
    val now = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    val probe = new Dev.Probe(spark.sparkContext)
    try {
      val fixed = probe.measure(spark.read.schema(graft.model.MetricPoint.fileSchema).parquet(s"$dataRoot/date=${dates.head}"))
      assert(fixed.jobs === 0L, fixed.toString)
      // 5 jobs per partition; inferring each partition's schema on read
      // cost one more (24)
      val run = probe.measure(assert(comp.runAuto(spark, dataRoot, ageDays = 7, nowMillis = now) === dates))
      assert(run.jobs === 20L, run.toString)
    } finally probe.close()
    val got = spark.read.parquet(dataRoot)
      .select("metric", "timestamp", "value").as[(String, Int, Double)].collect().toSet
    assert(got === Set(("one_min.x.y", 0, 2.0), ("one_min.x.y", 300, 4.0), ("one_hour.c.d", 0, 5.0)))
  }

  test("compactPartition of an empty partition yields an empty frame, not an error") {
    val comp = new Compaction(Retention.defaultResolver)
    val empty = Seq.empty[(String, Double, Int, Int)]
      .toDF("metric", "value", "timestamp", "updated")
    val out = comp.compactPartition(empty, 60)
    assert(out.columns.toSeq == Seq("metric", "timestamp", "value", "updated"))
    assert(out.count() == 0)
  }

  test("recover restores a partition left aside by a mid-swap crash") {
    val root = java.nio.file.Files.createTempDirectory("graft_recover").toString
    val dataRoot = s"$root/data"
    Seq(("m.x", 1.0, 100, java.sql.Date.valueOf("2024-01-01"), 1))
      .toDF("metric", "value", "timestamp", "date", "updated")
      .write.partitionBy("date").parquet(dataRoot)
    // simulate a crash after the rename-aside step: date dir moved away
    val dir = new java.io.File(s"$dataRoot/date=2024-01-01")
    val aside = new java.io.File(s"$dataRoot/.compact_old_date=2024-01-01")
    assert(dir.renameTo(aside))
    new Compaction(Retention.defaultResolver).recover(spark, dataRoot)
    assert(dir.exists && !aside.exists, "original partition restored")
    assert(spark.read.parquet(dataRoot).count() == 1)
  }
}
