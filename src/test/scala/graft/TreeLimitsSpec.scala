package graft

import graft.model.{MetricPoint, TreeLimits}
import graft.api.Graft
import graft.search.MetricTrie
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-dir tree growth caps + limit-notification pseudo-rows, mirroring
  * reference `search/tree/MetricTreeTest.java:161-251`
  * (testMetricsLimit / testLimitNotifications), adapted to the ingest
  * shape: dirs are created by the metrics written under them, and
  * within a batch siblings are admitted in name order (deterministic
  * stand-in for the reference's arrival order).
  */
class TreeLimitsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val day = java.sql.Date.valueOf("2024-01-10")

  private def points(names: String*): org.apache.spark.sql.Dataset[MetricPoint] =
    names.map(n => MetricPoint(n, 1.0, 1704844800, day, 1704844800)).toDS()

  test("per-dir caps refuse new subdirs/metrics past the limit, cascade to subtrees") {
    val dir = java.nio.file.Files.createTempDirectory("graft_limits").toString
    val p = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree",
      limits = TreeLimits(maxSubDirsPerDir = 5, maxMetricsPerDir = 10))

    // batch 1: 11 candidate subdirs of "dir." (a..k) + 21 candidate metrics (a..u)
    val subs = ('a' to 'k').map(c => s"dir.subdir_$c.m")
    val mets = ('a' to 'u').map(c => s"dir.metric_$c")
    p.processBatch(points(subs ++ mets: _*), 0L)

    val tree = spark.read.parquet(s"$dir/tree")
    val dirChildren = tree.filter(col("parent") === "dir." && col("name").endsWith("."))
      .select("name").as[String].collect().toSet
    assert(dirChildren === ('a' to 'e').map(c => s"dir.subdir_$c.").toSet,
      "first 5 subdirs in name order accepted, rest refused")
    val metChildren = tree.filter(col("parent") === "dir." && !col("name").endsWith("."))
      .select("name").as[String].collect().toSet
    assert(metChildren === ('a' to 'j').map(c => s"dir.metric_$c").toSet,
      "first 10 metrics in name order accepted, rest refused")

    // refused metrics' data points are dropped, accepted ones written
    val written = spark.read.parquet(s"$dir/data").select("metric").as[String].collect().toSet
    assert(written === (('a' to 'e').map(c => s"dir.subdir_$c.m") ++
      ('a' to 'j').map(c => s"dir.metric_$c")).toSet)

    // batch 2: full dir still refuses new names; existing names always pass;
    // an accepted subdir has its own fresh metric budget
    p.processBatch(points("dir.metric_v", "dir.metric_a", "dir.subdir_a.m2"), 1L)
    val tree2 = spark.read.parquet(s"$dir/tree")
    assert(tree2.filter(col("name") === "dir.metric_v").count() === 0, "over-cap refused")
    assert(tree2.filter(col("name") === "dir.subdir_a.m2").count() === 1,
      "new metric in an accepted subdir passes")
    val written2 = spark.read.parquet(s"$dir/data")
    assert(written2.filter(col("metric") === "dir.metric_a").count() === 2,
      "existing metric keeps accepting points")
    assert(written2.filter(col("metric") === "dir.metric_v").count() === 0)

    // cascade (reference: assertNull(tree.add("dir.one-more-subdir.a.b.c"))):
    // a refused subdir refuses its whole subtree, nodes and points alike
    p.processBatch(points("dir.subdir_z.x.y.c"), 2L)
    val tree3 = spark.read.parquet(s"$dir/tree")
    assert(tree3.filter(col("name").startsWith("dir.subdir_z")).count() === 0)
    assert(spark.read.parquet(s"$dir/data")
      .filter(col("metric") === "dir.subdir_z.x.y.c").count() === 0)
  }

  test("refusal counts surface as self-metric stats rows when configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft_limit_stats").toString
    val p = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree",
      limits = TreeLimits(maxSubDirsPerDir = 2, maxMetricsPerDir = 2),
      limitStatsPath = Some(s"$dir/stats"))
    // 4 candidate metrics under one dir: 2 admitted, 2 refused
    p.processBatch(points("d.m_a", "d.m_b", "d.m_c", "d.m_d"), 0L)
    val stats = spark.read.parquet(s"$dir/stats")
      .filter(col("metric") === "one_min.graft.ingest.tree_limit_refused")
      .select("value").as[Double].collect().toSeq
    assert(stats === Seq(2.0))
    // second batch with nothing refused still records the zero (a flat
    // zero series is the healthy-dashboard signal)
    p.processBatch(points("d.m_a"), 1L)
    val stats2 = spark.read.parquet(s"$dir/stats")
      .select("value").as[Double].collect().toSeq.sorted
    assert(stats2 === Seq(0.0, 2.0))
    // timestamp is WALL CLOCK (not batchId): the series must render at
    // its true age on any time-axis consumer / timestamp-based retention
    val tsMin = spark.read.parquet(s"$dir/stats")
      .select(min(col("timestamp"))).as[Int].head()
    assert(tsMin > 1600000000, s"timestamp must be wall-clock epoch, got $tsMin")
    // replayed batch (T4 at-least-once): same batch_id column keys the
    // dup, and the A1 idiom collapses it per (metric, batch_id)
    p.processBatch(points("d.m_a", "d.m_b", "d.m_c", "d.m_d"), 0L)
    val logical = spark.read.parquet(s"$dir/stats")
      .groupBy("metric", "batch_id")
      .agg(max_by(col("value"), col("updated")).as("value"))
      .select("value").as[Double].collect().toSeq.sorted
    assert(logical === Seq(0.0, 2.0), "replay must not double-count")
  }

  test("limit notifications surface on trailing-* searches, facade and trie alike") {
    val dir = java.nio.file.Files.createTempDirectory("graft_limit_notif").toString
    val limits = TreeLimits(maxSubDirsPerDir = 1, maxMetricsPerDir = 2)
    val p = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree", limits = limits)
    p.processBatch(points("dir.subdir_a.m", "dir.subdir_b.m",
      "dir.metric_a", "dir.metric_b", "dir.metric_c", "dir.metric_d", "dir.metric_e"), 0L)

    val g = new Graft(spark, s"$dir/data", s"$dir/tree", treeLimits = limits)
    def names(q: String): Set[String] = g.search(q).select("name").as[String].collect().toSet
    // reference golden (MetricTreeTest.testLimitNotifications): both
    // notifications plus the admitted children
    val expected = Set(
      "dir._SUBDIRS_LIMIT_REACHED_MAX_1",
      "dir._METRICS_LIMIT_REACHED_MAX_2",
      "dir.subdir_a.",
      "dir.metric_a",
      "dir.metric_b")
    assert(names("dir.*") === expected)
    assert(g.searchCached("dir.*").map(_._1).toSet === expected)

    // notification pseudo-rows are APPROVED (NotificationMetric.java:12),
    // not SIMPLE — a consumer filtering on status must match the reference
    val statuses = g.search("dir.*").filter(col("name").contains("_LIMIT_REACHED_"))
      .select("status").as[String].collect().toSet
    assert(statuses === Set("APPROVED"))

    // a snapshot built straight from the files returns the same rows
    val trie = MetricTrie.empty.refresh(spark, s"$dir/tree")
    assert(trie.searchWithLimits("dir.*", limits).map(_._1).toSet === expected)
    assert(trie.searchWithLimits("dir.*", limits)
      .filter(_._1.contains("_LIMIT_REACHED_")).map(_._2).toSet === Set("APPROVED"))

    // root query: root holds 1 dir >= maxSubDirs → root-level notification
    val root = Set("_SUBDIRS_LIMIT_REACHED_MAX_1", "dir.")
    assert(names("*") === root)
    assert(trie.searchWithLimits("*", limits).map(_._1).toSet === root)

    // non-* last level emits no notifications (reference: only ALL_PATTERN)
    val glob = Set("dir.metric_a", "dir.metric_b")
    assert(names("dir.metric_?") === glob)
    assert(trie.searchWithLimits("dir.metric_?", limits).map(_._1).toSet === glob)

    // caps off → plain search, no pseudo-rows
    val off = Set("dir.subdir_a.", "dir.metric_a", "dir.metric_b")
    assert(new Graft(spark, s"$dir/data", s"$dir/tree").search("dir.*").select("name").as[String]
      .collect().toSet === off)
    assert(trie.searchWithLimits("dir.*", TreeLimits.none).map(_._1).toSet === off)

    // the caps count children of any status: a banned child still fills
    // its dir, so the notification stays
    g.setStatus("dir.metric_a", graft.model.MetricStatus.Ban, nowSeconds = 2000000000L)
    assert(names("dir.*") === expected - "dir.metric_a")
    assert(trie.refresh(spark, s"$dir/tree").childCounts("dir.") === ((1, 2)))
  }
}
