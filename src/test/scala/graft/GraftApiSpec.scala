package graft

import graft.api.Graft
import graft.model.MetricStatus
import graft.streaming.GraphiteServerRegistry
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole user surface end-to-end: ingest → search → metricData →
  * status ops → autohide → compaction, through the facade.
  */
class GraftApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("full lifecycle through the facade") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")

    // ingest two metrics (one_min rule: 60s step at age < 7d)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = g.ingest(source.toDS(), s"$dir/ckpt")
    try {
      source.addData(
        "one_min.app.host1.requests 10.0 1700000000",
        "one_min.app.host1.requests 12.0 1700000000",  // same ts: latest event wins at read
        "one_min.app.host1.requests 20.0 1700000060",
        "one_min.app.host2.requests 5.0 1700000005"
      )
      q.processAllAvailable()
    } finally q.stop()

    // search
    val found = g.search("one_min.app.host?.requests").select("name").as[String].collect().toSet
    assert(found == Set("one_min.app.host1.requests", "one_min.app.host2.requests"))

    // trie serving cache agrees with the relational path
    assert(g.searchCached("one_min.app.host?.requests").map(_._1).toSet === found)

    // metricData with glob expansion + gap fill (60s retention step)
    val series = g.metricData(Seq("one_min.app.*.requests", "one_min.app.host9.requests"),
      1700000000, 1700000180, nowSeconds = 1700000200)
    val byMetric = series.collect().map(r =>
      r.getAs[String]("metric") -> r.getAs[scala.collection.Seq[Any]]("points")).toMap
    assert(byMetric.keySet == Set(
      "one_min.app.host1.requests", "one_min.app.host2.requests", "one_min.app.host9.requests"))
    assert(byMetric("one_min.app.host1.requests") == Seq(12.0, 20.0, null))
    assert(byMetric("one_min.app.host2.requests") == Seq(5.0, null, null))
    assert(byMetric("one_min.app.host9.requests") == Seq(null, null, null), "unmatched → all-null")

    // autohide positive path while host2 is still SIMPLE: 1 point (< 2)
    // and stale → AUTO_HIDDEN transition row
    val hides0 = g.autoHide(maxValues = 2, missingSeconds = -1000000000L, nowSeconds = 1700000200)
    assert(hides0.select("name", "status").as[(String, String)].collect().toMap ==
      Map("one_min.app.host2.requests" -> "AUTO_HIDDEN"))

    // ban then search again: banned node invisible
    g.setStatus("one_min.app.host2.requests", MetricStatus.Ban, nowSeconds = 2000000001L)
    val after = g.search("one_min.app.host?.requests").select("name").as[String].collect().toSet
    assert(after == Set("one_min.app.host1.requests"))

    // restricted transition: SIMPLE cannot silently lift the ban
    g.setStatus("one_min.app.host2.requests", MetricStatus.Simple, nowSeconds = 2000000002L)
    assert(!g.search("one_min.app.*.requests").as[(String, String)].collect()
      .exists(_._1 == "one_min.app.host2.requests"))

    // approve lifts it
    g.setStatus("one_min.app.host2.requests", MetricStatus.Approved, nowSeconds = 2000000003L)
    assert(g.search("one_min.app.host2.requests").count() == 1)

    // autohide after the approve: APPROVED is handmade-protected, the
    // transition is a no-op and a no-op appends NOTHING (sweeps must not
    // grow the tree table); host1 fails the count check anyway.
    val hides = g.autoHide(maxValues = 2, missingSeconds = -1000000000L, nowSeconds = 1700000200)
    assert(hides.count() == 0, "protected/no-op transitions append no rows")

    // compaction of everything older than "now" at 120s
    val compacted = g.compact(ageDays = -100000, stepSeconds = 120)
    assert(compacted.nonEmpty)
    val rows = g.data.filter($"metric" === "one_min.app.host1.requests")
      .select("timestamp", "value").as[(Int, Double)].collect().toSet
    assert(rows == Set((1699999920, 12.0), (1700000040, 20.0)),
      s"deduped points in their 120s buckets, got $rows")

    // maxMetricsPerQuery request cap: at-cap passes, over-cap refuses
    // BEFORE any scan (reference 413, MetricDataServiceServlet.java:58-64)
    val capped = new Graft(spark, s"$dir/data", s"$dir/tree", maxMetricsPerQuery = 2)
    assert(capped.metricData(Seq("one_min.app.host1.requests", "one_min.app.host2.requests"),
      1700000000, 1700000180, nowSeconds = 1700000200).count() == 2)
    val refusal = intercept[graft.api.TooManyMetricsException] {
      capped.metricData(Seq("a.b", "c.d", "e.f"), 1700000000, 1700000180,
        nowSeconds = 1700000200)
    }
    assert(refusal.provided == 3 && refusal.max == 2)
    assert(refusal.getMessage == "Too many metrics in query. Provided 3, max 2")
  }

  test("back-dated setStatus forces the serving cache into a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_backdate").toString
    // tree with a STALE metric (a.x, updated=1000) and a FRESH one
    // (a.y, updated=10000): the trie watermark lands at 10000
    Seq(
      ("a.", 1, "", "SIMPLE", 1000L),
      ("a.x", 2, "a.", "SIMPLE", 1000L),
      ("a.y", 2, "a.", "SIMPLE", 10000L)
    ).toDF("name", "level", "parent", "status", "updated")
      .write.parquet(s"$dir/tree")
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.x", "a.y"))

    // ban a.x stamped 2000: NEWER than a.x's row (so it wins the
    // latest-status collapse) but OLDER than watermark − 120 s overlap
    // (so an incremental delta scan would never see it)
    g.setStatus("a.x", MetricStatus.Ban, nowSeconds = 2000L)
    g.refreshSearchCache()
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.y"),
      "refresh after a back-dated write must fall back to a full rebuild")

    // a write INSIDE the overlap refreshes incrementally and is seen
    g.setStatus("a.y", MetricStatus.Ban, nowSeconds = 10050L)
    g.refreshSearchCache()
    assert(g.searchCached("a.*").isEmpty)
  }

  test("graphite lines pushed over TCP are searchable and readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_tcp").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    val q = g.ingestTcp(0, s"$dir/ckpt")
    try {
      var port = Option.empty[Int]
      val bindDeadline = System.currentTimeMillis() + 10000
      while (port.isEmpty && System.currentTimeMillis() < bindDeadline) {
        port = GraphiteServerRegistry.boundPort("graphite")
        if (port.isEmpty) Thread.sleep(50)
      }
      assert(port.nonEmpty, "server did not bind")
      val sock = new java.net.Socket("127.0.0.1", port.get)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("one_min.tcp.host1.requests 10.0 1700000000",
        "one_min.tcp.host1.requests 20.0 1700000060",
        "one_min.tcp.host2.requests 5.0 1700000000").foreach(out.println)
      out.flush(); sock.close()
      // lines land in the source's buffer asynchronously
      def written(): Long =
        try spark.read.parquet(s"$dir/data").count() catch { case _: Exception => 0L }
      val deadline = System.currentTimeMillis() + 20000
      while (written() < 3 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(written() === 3L)
    } finally q.stop()

    assert(g.search("one_min.tcp.*.requests").select("name").as[String].collect().toSet ===
      Set("one_min.tcp.host1.requests", "one_min.tcp.host2.requests"))
    val series = g.metricData(Seq("one_min.tcp.*.requests"), 1700000000, 1700000180,
      nowSeconds = 1700000200).collect().map(r =>
      r.getAs[String]("metric") -> r.getAs[scala.collection.Seq[Any]]("points")).toMap
    assert(series === Map(
      "one_min.tcp.host1.requests" -> Seq(10.0, 20.0, null),
      "one_min.tcp.host2.requests" -> Seq(5.0, null, null)))
  }
}
