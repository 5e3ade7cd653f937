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

  test("a metricData request runs a pinned number of Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_jobs").toString
    val pipe = new graft.streaming.IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    pipe.processBatch(pipe.parseBatch(Seq(
      "one_min.app.host1.requests 10.0 1700000000", "one_min.app.host1.requests 20.0 1700000060",
      "one_min.app.host1.cpu 1.5 1700000000", "one_min.app.host2.cpu 2.5 1700000120",
      "one_min.app.host2.requests 7.0 1700000000").toDS(), 1700000000), 0L)
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    // banned through another facade: this one's snapshot stays cold
    new Graft(spark, s"$dir/data", s"$dir/tree")
      .setStatus("one_min.app.host2.requests", MetricStatus.Ban, nowSeconds = 2000000000L)
    // an exact name, a glob, a banned name and an unknown name, all in
    // one retention group
    val patterns = Seq("one_min.app.host1.requests", "one_min.app.*.cpu",
      "one_min.app.host2.requests", "one_min.app.host9.requests")
    def request(): (Dev.Measured, Map[String, Seq[Any]]) = {
      val probe = new Dev.Probe(spark.sparkContext)
      var rows = Array.empty[org.apache.spark.sql.Row]
      val m = try probe.measure {
        rows = g.metricData(patterns, 1700000000, 1700000180, nowSeconds = 1700000200).collect()
      } finally probe.close()
      (m, rows.map(r => r.getAs[String]("metric") -> r.getAs[scala.collection.Seq[Any]]("points").toSeq).toMap)
    }
    val want = Map(
      "one_min.app.host1.requests" -> Seq(10.0, 20.0, null),
      "one_min.app.host1.cpu" -> Seq(1.5, null, null),
      "one_min.app.host2.cpu" -> Seq(null, null, 2.5),
      "one_min.app.host2.requests" -> Seq(null, null, null),
      "one_min.app.host9.requests" -> Seq(null, null, null))
    // cold: the snapshot's first build is one collect, then the one
    // shuffle's map and result stages
    val (cold, coldRows) = request()
    assert(cold.jobs === 3L, cold.toString)
    assert(coldRows === want)
    // warm, no new tree file: the listing runs no job
    val (warm, warmRows) = request()
    assert(warm.jobs === 2L, warm.toString)
    assert(warmRows === want)
    // a facade status write folds its own file into the snapshot, so
    // the next request's refresh finds no new file and runs no job
    g.setStatus("one_min.app.host1.cpu", MetricStatus.Ban, nowSeconds = 2000000001L)
    val (afterBan, banRows) = request()
    assert(afterBan.jobs === 2L, afterBan.toString)
    assert(banRows === want - "one_min.app.host1.cpu", "a glob no longer matches a banned name")
    val probe = new Dev.Probe(spark.sparkContext)
    val refresh = try probe.measure(g.refreshSearchCache()) finally probe.close()
    assert(refresh.jobs === 0L, "a refresh with no new tree file runs no Spark job")
  }

  test("a back-dated setStatus is seen by the next cache refresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_backdate").toString
    // tree with a STALE metric (a.x, updated=1000) and a FRESH one
    // (a.y, updated=10000)
    Seq(
      ("a.", 1, "", "SIMPLE", 1000L),
      ("a.x", 2, "a.", "SIMPLE", 1000L),
      ("a.y", 2, "a.", "SIMPLE", 10000L)
    ).toDF("name", "level", "parent", "status", "updated")
      .write.parquet(s"$dir/tree")
    Seq(graft.model.MetricPoint("a.y", 1.0, 0, new java.sql.Date(0L), 1)).toDS()
      .write.partitionBy("date").parquet(s"$dir/data")
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    val other = new Graft(spark, s"$dir/data", s"$dir/tree")
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.x", "a.y"))

    // another writer bans a.x stamped 2000: NEWER than a.x's row (so it
    // wins the latest-status collapse) but far older than anything else
    // folded in
    other.setStatus("a.x", MetricStatus.Ban, nowSeconds = 2000L)
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.x", "a.y"),
      "searchCached answers from the snapshot until a refresh")
    g.refreshSearchCache()
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.y"))
    // a back-dated write through the facade itself folds in at once
    g.setStatus("a.x", MetricStatus.Approved, nowSeconds = 2001L)
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.x", "a.y"),
      "a facade setStatus folds into its own snapshot")
    g.setStatus("a.x", MetricStatus.Ban, nowSeconds = 2002L)
    assert(g.searchCached("a.*").map(_._1).toSet === Set("a.y"))

    // metricData refreshes on its own: a glob stops matching a name as
    // soon as its ban is committed
    def expanded(): Set[String] =
      g.metricData(Seq("a.*"), 0, 60, nowSeconds = 100).select("metric").as[String].collect().toSet
    assert(expanded() === Set("a.y"))
    g.setStatus("a.y", MetricStatus.Ban, nowSeconds = 10050L)
    assert(expanded() === Set.empty)
    assert(g.searchCached("a.*").isEmpty)
  }

  test("a store before its first tree write answers search and searchCached with nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_empty").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    assert(g.search("*").collect().isEmpty)
    assert(g.search("one_min.*").collect().isEmpty)
    assert(g.searchCached("*").isEmpty)
  }

  test("setStatus before the tree's first write writes nothing, like search") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_empty_status").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    g.setStatus("one_min.*", MetricStatus.Ban, nowSeconds = 1000L)
    g.setStatus("one_min.app.host1.cpu", MetricStatus.Approved, nowSeconds = 1001L)
    assert(!new java.io.File(s"$dir/tree").exists)
    assert(g.search("*").collect().isEmpty && g.searchCached("one_min.*").isEmpty)
  }

  /** The committed files of the tree table at `tree`. */
  private def treeFiles(tree: String): Int =
    new java.io.File(tree).listFiles().count(f => f.isFile && f.getName.startsWith("part-"))

  test("setStatus honors the restricted transition graph") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_transitions").toString
    Seq(
      ("five_sec.", 1, "", "SIMPLE", 1L),
      ("five_sec.int_8742.", 2, "five_sec.", "SIMPLE", 1L),
      ("five_sec.int_8742.x1", 3, "five_sec.int_8742.", "SIMPLE", 1L),
      ("five_sec.int_8742.x2", 3, "five_sec.int_8742.", "HIDDEN", 5L),
      ("five_sec.int_8743.", 2, "five_sec.", "BAN", 2L),
      ("five_sec.int_8743.x1", 3, "five_sec.int_8743.", "SIMPLE", 1L)
    ).toDF("name", "level", "parent", "status", "updated").coalesce(1).write.parquet(s"$dir/tree")
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    def written(at: Long): Map[String, String] =
      g.tree.filter($"updated" === at).select("name", "status").as[(String, String)].collect().toMap
    g.setStatus("five_sec.int_874?.x?", MetricStatus.AutoHidden, nowSeconds = 10L)
    // HIDDEN is handmade: an automatic AUTO_HIDDEN keeps it
    assert(written(10L) === Map(
      "five_sec.int_8742.x1" -> "AUTO_HIDDEN", "five_sec.int_8743.x1" -> "AUTO_HIDDEN"))
    // SIMPLE must not reopen the BAN on the dir: the restricted edge is a
    // no-op, and a no-op appends nothing, not even an empty file
    val files = treeFiles(s"$dir/tree")
    g.setStatus("five_sec.int_8743.", MetricStatus.Simple, nowSeconds = 11L)
    assert(written(11L).isEmpty && treeFiles(s"$dir/tree") === files)
    assert(g.searchCached("five_sec.*").map(_._1) === Seq("five_sec.int_8742."))
    // APPROVED lifts it
    g.setStatus("five_sec.int_8743.", MetricStatus.Approved, nowSeconds = 12L)
    assert(written(12L) === Map("five_sec.int_8743." -> "APPROVED"))
    assert(g.searchCached("five_sec.*").map(_._1).toSet === Set("five_sec.int_8742.", "five_sec.int_8743."))
  }

  test("status writes run no Spark job on a warm snapshot; autoHide runs only its candidate aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_status_jobs").toString
    val pipe = new graft.streaming.IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    pipe.processBatch(pipe.parseBatch(Seq(
      "one_min.app.host1.requests 10.0 1700000000", "one_min.app.host1.requests 20.0 1700000060",
      "one_min.app.host1.cpu 1.5 1700000000", "one_min.app.host2.cpu 2.5 1700000120",
      "one_min.app.host2.requests 7.0 1700000000").toDS(), 1700000000), 0L)
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    g.refreshSearchCache()
    val probe = new Dev.Probe(spark.sparkContext)
    try {
      val ban = probe.measure(g.setStatus("one_min.app.host2.*", MetricStatus.Ban, nowSeconds = 2000000000L))
      assert(ban.jobs === 0L, ban.toString)
      assert(g.searchCached("one_min.app.*.*").map(_._1).toSet ===
        Set("one_min.app.host1.requests", "one_min.app.host1.cpu"))
      val files = treeFiles(s"$dir/tree")
      val noop = probe.measure(g.setStatus("one_min.app.host2.cpu", MetricStatus.Simple, nowSeconds = 2000000001L))
      assert(noop.jobs === 0L, noop.toString)
      assert(treeFiles(s"$dir/tree") === files, "a no-op status write commits no file")
      // stamped past the batch's wall-clock tree rows; every point is stale
      val (now, missing) = (2000000200L, 1000L)
      // the sweep's one aggregate alone: 2 jobs, the map stage of its
      // shuffle and the result
      val aggregate = probe.measure(graft.search.MetricSearchOps.autoHideCandidates(g.data, 2, now - missing)
        .select("metric").collect())
      assert(aggregate.jobs === 2L, aggregate.toString)
      var hidden = Array.empty[(String, String)]
      val sweep = probe.measure {
        hidden = g.autoHide(maxValues = 2, missingSeconds = missing, nowSeconds = now)
          .select("name", "status").as[(String, String)].collect()
      }
      assert(sweep.jobs === aggregate.jobs, sweep.toString)
      // host2's two metrics are BAN (kept); host1.cpu has one point
      assert(hidden.toMap === Map("one_min.app.host1.cpu" -> "AUTO_HIDDEN"))
      assert(g.searchCached("one_min.app.*.*").map(_._1) === Seq("one_min.app.host1.requests"))
      val refresh = probe.measure(g.refreshSearchCache())
      assert(refresh.jobs === 0L, "the sweep's file is folded in as it commits")
    } finally probe.close()
  }

  test("an autoHide sweep persists and new points revive the metric (T6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_autohide").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val q = g.ingest(source.toDS(), s"$dir/ckpt")
    def visible(): Set[String] = g.search("one_min.app.*.requests").select("name").as[String].collect().toSet
    try {
      source.addData(
        "one_min.app.host1.requests 10.0 1700000000",
        "one_min.app.host1.requests 20.0 1700000060",
        "one_min.app.host2.requests 5.0 1700000000")
      q.processAllAvailable()
      assert(visible() === Set("one_min.app.host1.requests", "one_min.app.host2.requests"))
      // at the wall clock, with every point counted as stale: host2 has
      // one point (< 2), host1 two
      val hidden = g.autoHide(maxValues = 2, missingSeconds = -1000L)
        .select("name", "status").as[(String, String)].collect().toMap
      assert(hidden === Map("one_min.app.host2.requests" -> "AUTO_HIDDEN"))
      assert(visible() === Set("one_min.app.host1.requests"))
      assert(new Graft(spark, s"$dir/data", s"$dir/tree").search("one_min.app.host2.requests").count() === 0,
        "the sweep persists: a new facade sees it")
      // host2 sends again: ingest revives it (AUTO_HIDDEN -> SIMPLE)
      source.addData("one_min.app.host2.requests 6.0 1700000120")
      q.processAllAvailable()
      assert(visible() === Set("one_min.app.host1.requests", "one_min.app.host2.requests"))
    } finally q.stop()
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
