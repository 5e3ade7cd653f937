package graft

import graft.model.{MetricStatus, TreeNode}
import graft.names.{Glob, MetricNames}
import graft.search.MetricSearchOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Tree search + status workflow over the append-only tree table
  * (reference MetricTreeTest workflows, FIXTURES.md §2/§5).
  */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tree = Seq(
    // name, level, parent, status, updated
    ("five_sec.", 1, "", "SIMPLE", 1L),
    ("five_sec.int_8742.", 2, "five_sec.", "SIMPLE", 1L),
    ("five_sec.int_8742.x1", 3, "five_sec.int_8742.", "SIMPLE", 1L),
    ("five_sec.int_8742.x2", 3, "five_sec.int_8742.", "SIMPLE", 1L),
    ("five_sec.int_8742.x2", 3, "five_sec.int_8742.", "HIDDEN", 5L), // latest wins
    ("five_sec.int_8743.", 2, "five_sec.", "BAN", 2L),
    ("five_sec.int_8743.x1", 3, "five_sec.int_8743.", "SIMPLE", 1L),
    ("one_min.", 1, "", "SIMPLE", 1L),
    ("one_min.m1", 2, "one_min.", "SIMPLE", 1L)
  ).toDF("name", "level", "parent", "status", "updated")

  test("currentTree dedups by latest updated") {
    val cur = MetricSearchOps.currentTree(tree)
    assert(cur.count() == 8)
    val x2 = cur.filter($"name" === "five_sec.int_8742.x2").select("status").as[String].collect()(0)
    assert(x2 == "HIDDEN")
  }

  test("glob search: pattern level + visibility") {
    def names(q: String): Set[String] =
      MetricSearchOps.search(tree, q).select("name").as[String].collect().toSet
    assert(names("five_sec.int_874?.x1") == Set("five_sec.int_8742.x1", "five_sec.int_8743.x1"))
    assert(names("five_sec.int_8742.x*") == Set("five_sec.int_8742.x1")) // x2 hidden
    assert(names("*") == Set("five_sec.", "one_min."))
    assert(names("five_sec.*") == Set("five_sec.int_8742.")) // 8743 banned
    assert(names("asdf[") == Set.empty, "invalid glob → empty")
  }

  test("searchMany resolves multiple patterns in one pass") {
    val names = MetricSearchOps.searchMany(tree,
      Seq("five_sec.int_874?.x1", "five_sec.int_8742."))
      .select("name").as[String].collect().toSet
    val one = MetricSearchOps.search(tree, "five_sec.int_874?.x1")
      .select("name").as[String].collect().toSet ++
      MetricSearchOps.search(tree, "five_sec.int_8742.")
        .select("name").as[String].collect().toSet
    assert(names == one, "one-pass OR equals the per-pattern union")
    assert(names.nonEmpty)
  }

  test("a two-pattern searchMany filters on glob_match below the tree aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
    // a parquet scan, so the optimizer cannot fold the filter into local rows
    val dir = java.nio.file.Files.createTempDirectory("graft_search_plan").toString
    tree.write.mode("overwrite").parquet(dir)
    // patterns at two levels: the OR has no common level conjunct to factor out
    val plan = MetricSearchOps.searchMany(spark.read.parquet(dir), Seq("five_sec.int_874?.x1", "one_min.*"))
      .queryExecution.optimizedPlan
    def globFilter(p: LogicalPlan): Boolean = p match {
      case f: Filter => f.condition.exists(_.isInstanceOf[graft.functions.GlobMatchExpression])
      case _ => false
    }
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, plan.toString)
    assert(aggs.head.exists(globFilter), s"glob_match is not below the Aggregate:\n$plan")
    assert(!plan.exists(p => globFilter(p) && p.exists(_.isInstanceOf[Aggregate])),
      s"glob_match is still above the Aggregate:\n$plan")
  }

  private type Row5 = (String, Int, String, String, Long)

  /** An explicit model of the tree state a list of files gives, in the
    * order they were written: per name, the row with the latest
    * `updated`, and on a tie the row of the later file.
    */
  private def fileOrderModel(files: Seq[Seq[Row5]]): Map[String, Row5] =
    files.flatten.foldLeft(Map.empty[String, Row5]) { (state, row) =>
      if (state.get(row._1).forall(_._5 <= row._5)) state.updated(row._1, row) else state
    }

  /** The same-second BAN fixture: a batch's SIMPLE rows, then a status
    * file with BAN in the same second (a tie), APPROVED a second later
    * and HIDDEN older than the batch.
    */
  private val batchFile: Seq[Row5] =
    ("a.", 1, "", "SIMPLE", 100L) +: (0 until 3000).map(i => (s"a.m$i", 2, "a.", "SIMPLE", 100L))
  private val statusFile: Seq[Row5] = (0 until 16).map(i => (s"a.m$i", 2, "a.", "BAN", 100L)) ++
    Seq(("a.m20", 2, "a.", "APPROVED", 101L), ("a.m30", 2, "a.", "HIDDEN", 50L))

  private def appendFile(dir: String, rows: Seq[Row5]): Unit =
    rows.toDF("name", "level", "parent", "status", "updated").coalesce(1).write.mode("append").parquet(dir)

  test("the snapshot resolves updated ties by file order; currentTree pinned alike") {
    import graft.search.MetricTrie
    val dir = java.nio.file.Files.createTempDirectory("graft_tie_order").toString + "/tree"
    appendFile(dir, batchFile)
    appendFile(dir, statusFile)
    val model = fileOrderModel(Seq(batchFile, statusFile))
    val trie = MetricTrie.empty.refresh(spark, dir)
    (0 until 40).map(i => s"a.m$i").foreach { n =>
      assert(trie.statusOf(n) === model.get(n).map(_._4), n)
    }
    assert(trie.statusOf("a.m0") === Some("BAN") && trie.statusOf("a.m20") === Some("APPROVED") &&
      trie.statusOf("a.m30") === Some("SIMPLE") && trie.statusOf("a.") === Some("SIMPLE"))
    assert(trie.statusOf("a.m3000") === None && trie.statusOf("b.") === None)
    // currentTree's scan order keeps BAN on this fixture too
    val cur = MetricSearchOps.currentTree(spark.read.parquet(dir))
      .filter(col("name").isin("a.m0", "a.m20", "a.m30")).select("name", "status").as[(String, String)].collect().toMap
    assert(cur === Map("a.m0" -> "BAN", "a.m20" -> "APPROVED", "a.m30" -> "SIMPLE"))
  }

  test("snapshot expansion equals a file-order model over a multi-file tree") {
    import graft.search.MetricTrie
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot_expansion").toString + "/tree"
    val patterns = Seq("a.m1", "a.m2?", "a.m3*", "a.*", "b.*", "b.x", "*", "a.m[0-9]")
    // the visible non-dir names the patterns match: from the snapshot,
    // and from the model's rows through the relational glob filter
    def check(trie: MetricTrie, files: Seq[Seq[Row5]]): Unit = {
      val got = patterns.flatMap(trie.search).map(_._1).filterNot(_.endsWith(".")).toSet
      val want = fileOrderModel(files).values.toSeq.toDF("name", "level", "parent", "status", "updated")
        .filter(MetricSearchOps.visibleCol(col("status")) && MetricSearchOps.matchesAny(patterns) &&
          !col("name").endsWith("."))
        .select("name").as[String].collect().toSet
      assert(got === want)
    }
    appendFile(dir, batchFile)
    appendFile(dir, statusFile)
    val t1 = MetricTrie.empty.refresh(spark, dir)
    check(t1, Seq(batchFile, statusFile))
    assert(t1.search("a.m0").isEmpty, "the later file's BAN wins the tie")
    assert(t1.search("a.m30").nonEmpty, "an older HIDDEN loses")
    // a new subtree, then a BAN back-dated far behind the newest stamp,
    // an APPROVED lifting a tied BAN, and a crashed writer's staging dir
    val subtree: Seq[Row5] = Seq(("b.", 1, "", "SIMPLE", 10000L), ("b.x", 2, "b.", "SIMPLE", 1000L),
      ("b.y", 2, "b.", "SIMPLE", 10000L))
    val lifts: Seq[Row5] = Seq(("b.x", 2, "b.", "BAN", 2000L), ("a.m1", 2, "a.", "APPROVED", 200L))
    appendFile(dir, subtree)
    appendFile(dir, lifts)
    appendFile(dir + "/_temporary/0", Seq(("a.m2", 2, "a.", "APPROVED", 999999L)))
    val t2 = t1.refresh(spark, dir)
    check(t2, Seq(batchFile, statusFile, subtree, lifts))
    assert(t2.search("b.*").map(_._1) === Seq("b.y") && t2.search("a.m1").nonEmpty && t2.search("a.m2").isEmpty)
    // delete the status file: the snapshot is rebuilt without its rows
    val deleted = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .find(f => spark.read.parquet(f.getPath).filter($"name" === "a.m20" && $"status" === "APPROVED").count() > 0).get
    assert(deleted.delete())
    val t3 = t2.refresh(spark, dir)
    check(t3, Seq(batchFile, subtree, lifts))
    assert(t3.search("a.m0").nonEmpty)
  }

  /** The transitions a status write of `to` at `updated` makes over the
    * current rows `current`, decided as the Spark path decided them: the
    * whole-name regex of [[Glob.queryToRegex]], or the quoted literal for
    * an invalid glob, then [[MetricStatus.selectStatus]] per row, no-ops
    * dropped.
    */
  private def modelTransitions(current: Seq[Row5], pattern: String, to: MetricStatus,
                               updated: Long): Set[TreeNode] = {
    val re = java.util.regex.Pattern.compile(Glob.queryToRegex(pattern)
      .getOrElse("^" + java.util.regex.Pattern.quote(pattern) + "$"))
    current.filter(r => re.matcher(r._1).find()).flatMap { case (name, level, parent, status, _) =>
      val next = MetricStatus.selectStatus(MetricStatus.of(status), to).name
      if (next == status) None else Some(TreeNode(name, level, parent, next, updated))
    }.toSet
  }

  /** Metrics and dirs over three levels: a metric and a dir on one node
    * ("a.x" and "a.x."), and a name only an invalid glob's literal
    * fallback selects ("a.[").
    */
  private val nodes: Seq[String] = {
    val metrics = Seq("a.x", "a.y", "a.x.m1", "a.x.m2", "a.x.n", "a.y.m1", "b.x", "b.z1.m1", "a.[")
    def dirs(n: String): Seq[String] = {
      val p = MetricNames.parent(n)
      if (p.isEmpty) Nil else p +: dirs(p)
    }
    (metrics ++ metrics.flatMap(dirs)).distinct
  }

  private val patternGen: Gen[String] = {
    // literal, wildcard and invalid levels ("[", "{x", "}", a trailing
    // backslash); no character class that can match a dot, which the
    // whole-name regex lets span two levels and a level walk does not
    val level = Gen.oneOf("a", "b", "x", "y", "z1", "m1", "n", "q", "*", "?", "m?", "[xy]",
      "{x,z1}", "m[0-9]", "z*", "[", "{x", "}", "x\\")
    val globs = for {
      k <- Gen.choose(1, 3)
      levels <- Gen.listOfN(k, level)
      dots <- Gen.oneOf("", "", ".", "..")
    } yield levels.mkString(".") + dots
    Gen.frequency(8 -> globs, 1 -> Gen.oneOf("a.[", "a.[.", "a.x.", "a.x..", "*.*.*"))
  }

  private val filesGen: Gen[Seq[Seq[Row5]]] = for {
    // a narrow stamp range makes updated ties common, a wide one rare
    maxStamp <- Gen.oneOf(4L, 1000000L)
    row = for {
      n <- Gen.oneOf(nodes)
      st <- Gen.oneOf(MetricStatus.persisted)
      u <- Gen.choose(1L, maxStamp)
    } yield (n, MetricNames.level(n), MetricNames.parent(n), st.name, u)
    k <- Gen.choose(1, 4)
    files <- Gen.listOfN(k, Gen.choose(1, 12).flatMap(Gen.listOfN(_, row)))
  } yield files

  test("snapshot status transitions equal the Spark path's where no updated tie exists, file order on a tie") {
    import graft.search.MetricTrie
    import org.scalacheck.{Prop, Test => SCTest}
    var tiedCases, untiedCases = 0
    /** The snapshot's transitions over `files`, committed in that order,
      * equal the file-order model's; with no tie, also the Spark path's
      * over the same table.
      */
    def agrees(files: Seq[Seq[Row5]], pattern: String, to: MetricStatus): Boolean = {
      val dir = java.nio.file.Files.createTempDirectory("graft_transitions").toString + "/tree"
      files.zipWithIndex.foreach { case (rows, i) =>
        val path = MetricTrie.append(spark, dir, rows.map((TreeNode.apply _).tupled))
        // pin the fold order to the commit order
        new java.io.File(new java.net.URI(path)).setLastModified(1000000000000L + i * 1000L)
      }
      val trie = MetricTrie.empty.refresh(spark, dir)
      val got = trie.transitions(trie.matching(pattern), to, 5000000L).toSet
      val byFileOrder = modelTransitions(fileOrderModel(files).values.toSeq, pattern, to, 5000000L)
      val tied = files.flatten.groupBy(_._1).values.exists(rs => rs.map(_._5).distinct.size < rs.size)
      if (tied) { tiedCases += 1; got == byFileOrder }
      else {
        untiedCases += 1
        val current = MetricSearchOps.currentTree(spark.read.schema(TreeNode.tableSchema).parquet(dir))
          .as[Row5].collect().toSeq
        got == byFileOrder && got == modelTransitions(current, pattern, to, 5000000L)
      }
    }
    // the same-second BAN fixture: the later file's BAN wins the tie
    assert(agrees(Seq(batchFile, statusFile), "a.m1?", MetricStatus.AutoHidden))
    assert(agrees(Seq(statusFile, batchFile), "a.m1?", MetricStatus.AutoHidden))
    tiedCases = 0
    // no shrinking: each case writes a table and runs Spark jobs
    val prop = Prop.forAllNoShrink(filesGen, patternGen, Gen.oneOf(MetricStatus.persisted)) { (files, pattern, to) =>
      agrees(files, pattern, to)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.toString)
    assert(tiedCases > 5 && untiedCases > 5, s"$tiedCases tied, $untiedCases untied cases")
  }

  /** T6 — declarative dir visibility: a directory is auto-hidden when all
    * of its children are invisible (reference counter-based
    * `search/tree/MetricDir.java:106-168`, derived here with one
    * aggregation instead of mutable per-dir counters).
    */
  private def dirVisibility(tree: DataFrame): DataFrame =
    MetricSearchOps.currentTree(tree)
      .groupBy(col("parent").as("dir"))
      .agg(
        sum(MetricSearchOps.visibleCol(col("status")).cast("int")).as("visible_children"),
        count(lit(1)).as("children")
      )
      .withColumn("auto_hide", col("visible_children") === 0)

  test("dir visibility derives auto-hide from children") {
    val hiddenKids = Seq(
      ("d.", 1, "", "SIMPLE", 1L),
      ("d.m1", 2, "d.", "AUTO_HIDDEN", 1L),
      ("d.m2", 2, "d.", "HIDDEN", 1L),
      ("e.", 1, "", "SIMPLE", 1L),
      ("e.m1", 2, "e.", "SIMPLE", 1L)
    ).toDF("name", "level", "parent", "status", "updated")
    val vis = dirVisibility(hiddenKids)
    val byDir = vis.filter($"dir" =!= "").select("dir", "auto_hide").as[(String, Boolean)].collect().toMap
    assert(byDir("d.") && !byDir("e."))
  }

  test("autohide candidates: few points and stale") {
    val data = Seq(
      ("m.live", 1.0, 100, 100), ("m.live", 2.0, 200, 200), ("m.live", 3.0, 999, 999),
      ("m.stale", 1.0, 100, 100)
    ).toDF("metric", "value", "timestamp", "updated")
    val got = MetricSearchOps.autoHideCandidates(data, maxValues = 2, cutoffSeconds = 500)
      .select("metric").as[String].collect().toSeq
    assert(got == Seq("m.stale"))
  }
}
