package graft

import graft.names.MetricNames
import graft.streaming.IngestPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming ingest: lines → validated points → dual sink
  * (data append + tree upsert), driven by a MemoryStream.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("streaming ingest writes points and tree nodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData(
        "one_min.app.host1.requests 12.0 1542199560",
        "one_min.app.host1.requests 14.0 1542199560.7", // same metric, later ts
        "one_min.app.host2.requests 7.5 1542199620",
        "bad..name 1 1542199560",                        // invalid: dropped
        "one_min.app.host1.requests x 1542199560"        // invalid: dropped
      )
      q.processAllAvailable()
      source.addData("one_min.app.host3.cpu 3.3 1542199680") // second batch
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == 4, "3 valid lines in batch 1 + 1 in batch 2")
    assert(data.columns.toSet == Set("metric", "value", "timestamp", "date", "updated"))
    assert(data.filter($"metric" === "one_min.app.host1.requests").count() == 2)

    val tree = spark.read.parquet(s"$dir/tree")
    val names = tree.select("name").as[String].collect().toSet
    assert(names == Set(
      "one_min.", "one_min.app.",
      "one_min.app.host1.", "one_min.app.host2.", "one_min.app.host3.",
      "one_min.app.host1.requests", "one_min.app.host2.requests", "one_min.app.host3.cpu"
    ), s"got $names")
    // second batch added only the genuinely new nodes (ancestors deduped)
    assert(tree.count() == 8, "no duplicate tree rows across batches")
    val h1 = tree.filter($"name" === "one_min.app.host1.requests").collect()(0)
    assert(h1.getAs[Int]("level") == 4)
    assert(h1.getAs[String]("parent") == "one_min.app.host1.")
  }

  test("ingest drops banned metrics and revives auto-hidden ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bangate").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData(
        "one_min.app.bad.requests 1.0 1542199560",
        "one_min.app.quiet.requests 2.0 1542199560",
        "one_min.app.ok.requests 3.0 1542199560")
      q.processAllAvailable()
      Thread.sleep(1200) // status rows must be strictly newer than batch 1
      val now = System.currentTimeMillis() / 1000
      Seq(
        ("one_min.app.bad.requests", 4, "one_min.app.bad.", "BAN", now),
        ("one_min.app.quiet.requests", 4, "one_min.app.quiet.", "AUTO_HIDDEN", now)
      ).toDF("name", "level", "parent", "status", "updated")
        .write.mode("append").parquet(s"$dir/tree")
      Thread.sleep(1200) // batch 2 writes must be strictly newer than the statuses
      source.addData(
        "one_min.app.bad.requests 10.0 1542199620",   // banned: dropped
        "one_min.app.quiet.requests 20.0 1542199620", // auto-hidden: accepted + revived
        "one_min.app.ok.requests 30.0 1542199620")
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(s"$dir/data")
    assert(data.filter($"metric" === "one_min.app.bad.requests").count() == 1,
      "banned metric's batch-2 point dropped (batch-1 point predates the ban)")
    assert(data.filter($"metric" === "one_min.app.quiet.requests").count() == 2)
    assert(data.filter($"metric" === "one_min.app.ok.requests").count() == 2)

    val current = graft.search.MetricSearchOps.currentTree(spark.read.parquet(s"$dir/tree"))
      .select("name", "status").as[(String, String)].collect().toMap
    assert(current("one_min.app.bad.requests") == "BAN", "ban NOT lifted by incoming data")
    assert(current("one_min.app.quiet.requests") == "SIMPLE",
      "AUTO_HIDDEN metric sending again reopens as SIMPLE")
  }

  test("banning a directory blocks NEW child metrics too (ancestor gate)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirban").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = pipe.start(source.toDS(), s"$dir/ckpt")
    try {
      source.addData("one_min.spam.first.requests 1.0 1542199560")
      q.processAllAvailable()
      Thread.sleep(1200)
      val now = System.currentTimeMillis() / 1000
      // ban the DIR, not any metric name
      Seq(("one_min.spam.", 2, "one_min.", "BAN", now))
        .toDF("name", "level", "parent", "status", "updated")
        .write.mode("append").parquet(s"$dir/tree")
      Thread.sleep(1200)
      source.addData(
        "one_min.spam.first.requests 2.0 1542199620", // existing child: dropped
        "one_min.spam.brandnew.requests 3.0 1542199620", // NEW child: dropped
        "one_min.fine.x.requests 4.0 1542199620")
      q.processAllAvailable()
    } finally q.stop()
    val data = spark.read.parquet(s"$dir/data")
    assert(data.filter($"metric".startsWith("one_min.spam.")).count() == 1,
      "only the pre-ban point survives under the banned dir")
    assert(data.filter($"metric" === "one_min.fine.x.requests").count() == 1)
    // no tree node was created for the new child under the banned dir
    val names = spark.read.parquet(s"$dir/tree").select("name").as[String].collect().toSet
    assert(!names.contains("one_min.spam.brandnew.requests"))
  }

  test("ancestor/level/parent name arithmetic") {
    val pipe = new IngestPipeline(dataPath = "/tmp/x", treePath = "/tmp/y")
    assert(pipe.ancestors("a.b.c") == Seq("a.", "a.b.", "a.b.c"))
    assert(pipe.ancestors("solo") == Seq("solo"))
    assert(MetricNames.level("a.b.c") == 3 && MetricNames.level("solo") == 1)
    val par = Seq("a.b.c", "a.b.", "a.", "a").map(n => n -> MetricNames.parent(n)).toMap
    assert(par("a.b.c") == "a.b." && par("a.b.") == "a." && par("a.") == "" && par("a") == "")
  }
}
