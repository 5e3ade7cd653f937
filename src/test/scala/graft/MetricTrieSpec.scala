package graft

import graft.model.TreeNode
import graft.search.{MetricSearchOps, MetricTrie}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** The trie cache's contract is exact agreement with the relational
  * search path over the same tree state — verified here per query
  * family (literal, *, ?, classes, braces, dirs, invisible, invalid).
  */
class MetricTrieSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // append-only rows: (name, level, parent, status, updated) with a
  // status overwrite (b.cpu BAN then APPROVED) so currentTree matters
  private def treeRows = Seq(
    ("a.", 1, "", "SIMPLE", 1L),
    ("b.", 1, "", "SIMPLE", 1L),
    ("a.cpu.", 2, "a.", "SIMPLE", 2L),
    ("a.mem.", 2, "a.", "HIDDEN", 2L),
    ("a.cpu", 2, "a.", "SIMPLE", 2L),
    ("a.mem", 2, "a.", "SIMPLE", 2L),
    ("b.cpu", 2, "b.", "BAN", 2L),
    ("b.cpu", 2, "b.", "APPROVED", 3L),
    ("a.cpu.load1", 3, "a.cpu.", "SIMPLE", 4L),
    ("a.cpu.load5", 3, "a.cpu.", "SIMPLE", 4L),
    ("a.cpu.io_wait", 3, "a.cpu.", "AUTO_HIDDEN", 4L)
  ).toDF("name", "level", "parent", "status", "updated")

  private val queries = Seq(
    "a.cpu", "a.*", "*.cpu", "a.cpu.load?", "a.cpu.load[1-5]",
    "a.cpu.{load1,io_wait}", "a.{cpu,mem}", "?.c*u", "a.cpu.*",
    "nope.*", "a.cpu.[", "*", "a",
    // parity traps: escaped segment (backslash = not a literal name) and
    // trailing extra dots (split drops them; level counting doesn't)
    "a.cp\\u", "a.cpu..", "a.cpu.", "a.cpu.load1."
  )

  private val cols = Seq("name", "level", "parent", "status", "updated")

  private def newTree(): String =
    java.nio.file.Files.createTempDirectory("graft_trie").toString + "/tree"

  /** Appends `rows` to the tree table at `dir` as one file. */
  private def append(dir: String, rows: Seq[(String, Int, String, String, Long)]): Unit =
    rows.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)

  private def committed(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq.filter(f => f.isFile && f.getName.startsWith("part-"))

  test("trie search equals relational search for every query family") {
    val dir = newTree()
    treeRows.coalesce(1).write.parquet(dir)
    val trie = MetricTrie.empty.refresh(spark, dir)
    queries.foreach { q =>
      val rel = MetricSearchOps.search(treeRows, q).as[(String, String)].collect().toSet
      val fast = trie.search(q).toSet
      assert(fast === rel, s"query '$q'")
    }
  }

  test("matching selects names of any status per level; an invalid glob selects its literal name") {
    val dir = newTree()
    treeRows.coalesce(1).write.parquet(dir)
    val trie = MetricTrie.empty.refresh(spark, dir)
    def names(p: String): Set[String] = trie.matching(p).toSet
    // a node's metric and dir both match, whether or not the pattern ends in a dot
    assert(names("a.cpu") === Set("a.cpu", "a.cpu.") && names("a.cpu.") === names("a.cpu"))
    // no level-count cut: search finds nothing for "a.cpu.." but a status write selects
    assert(trie.search("a.cpu..").isEmpty && names("a.cpu..") === names("a.cpu"))
    // any status: HIDDEN, AUTO_HIDDEN and APPROVED (over an older BAN) are selected
    assert(names("a.mem") === Set("a.mem", "a.mem."))
    // a last level that matches the empty string selects its dir too
    assert(names("a.cpu.*") === Set("a.cpu.", "a.cpu.load1", "a.cpu.load5", "a.cpu.io_wait"))
    assert(names("a.cpu.load?") === Set("a.cpu.load1", "a.cpu.load5"))
    assert(names("?.cpu") === Set("a.cpu", "a.cpu.", "b.cpu"))
    assert(names("a.{cpu,mem}.") === Set("a.cpu", "a.cpu.", "a.mem", "a.mem."))
    // an invalid glob is one literal name, absent here
    assert(names("a.cpu.[").isEmpty && names("nope.*").isEmpty)
    // each level matches on its own: the whole-name regex of "a[!x]cpu"
    // matches "a.cpu" across the dot, the level walk does not
    assert(graft.names.Glob.queryToRegex("a[!x]cpu").exists("a.cpu".matches) && names("a[!x]cpu").isEmpty)
    val at = trie.transitions(Seq("a.cpu", "a.mem.", "b.cpu", "a.cpu.io_wait", "nope.x", "a.cpu"),
      graft.model.MetricStatus.AutoHidden, 7L)
    // SIMPLE moves, HIDDEN and APPROVED are kept, AUTO_HIDDEN is a no-op,
    // an unknown name and a repeated one add nothing
    assert(at === Seq(TreeNode("a.cpu", 2, "a.", "AUTO_HIDDEN", 7L)))
  }

  test("file-fed refresh: new files fold in, original untouched, rebuild parity") {
    val dir = newTree()
    treeRows.coalesce(1).write.parquet(dir)
    val trie = MetricTrie.empty.refresh(spark, dir)
    assert(trie.refresh(spark, dir) eq trie, "no new file: the same snapshot")
    // a new file: a brand-new metric, a status flip of an existing one,
    // and a row back-dated behind every stamp already folded in
    append(dir, Seq(
      ("a.cpu.load15", 3, "a.cpu.", "SIMPLE", 5L),
      ("b.cpu", 2, "b.", "HIDDEN", 6L),
      ("a.mem.free", 3, "a.mem.", "SIMPLE", 1L)))
    val next = trie.refresh(spark, dir)
    val full = spark.read.parquet(dir)
    queries.foreach { q =>
      val rel = MetricSearchOps.search(full, q).as[(String, String)].collect().toSet
      assert(next.search(q).toSet === rel, s"query '$q' after refresh")
      assert(MetricTrie.empty.refresh(spark, dir).search(q).toSet === rel, s"query '$q' rebuilt")
    }
    assert(next.search("a.cpu.load15").nonEmpty)
    assert(next.search("b.cpu").isEmpty, "status flip to HIDDEN applied")
    assert(next.search("a.mem.free").nonEmpty, "back-dated row applied")
    // the ORIGINAL trie still answers from its snapshot (no mutation)
    assert(trie.search("a.cpu.load15").isEmpty)
    assert(trie.search("b.cpu").map(_._2) === Seq("APPROVED"))
    // an older row in a later file never regresses state
    append(dir, Seq(("b.cpu", 2, "b.", "APPROVED", 3L)))
    assert(next.refresh(spark, dir).search("b.cpu").isEmpty,
      "older APPROVED row must not undo the newer HIDDEN")
    // the BAN names follow the same fold: a ban, its newer lift, and an
    // older row that cannot lift one
    assert(trie.banned.isEmpty, "b.cpu's BAN at 2 was lifted at 3")
    append(dir, Seq(("a.", 1, "", "BAN", 7L), ("b.cpu", 2, "b.", "BAN", 8L)))
    append(dir, Seq(("a.", 1, "", "APPROVED", 9L), ("b.cpu", 2, "b.", "SIMPLE", 4L)))
    val after = next.refresh(spark, dir)
    assert(after.banned === Set("b.cpu"))
    assert(MetricTrie.empty.refresh(spark, dir).banned === after.banned)
  }

  test("refresh skips _temporary and _SUCCESS, and rebuilds after a file is deleted") {
    val dir = newTree()
    append(dir, Seq(("s.", 1, "", "SIMPLE", 10000L), ("s.a", 2, "s.", "SIMPLE", 10000L)))
    val first = committed(dir).toSet
    append(dir, Seq(("s.b", 2, "s.", "SIMPLE", 9000L)))
    val second = (committed(dir).toSet -- first).head
    // a crashed writer's staging dir and a marker file: Spark skips both
    Seq(("s.c", 2, "s.", "SIMPLE", 20000L)).toDF(cols: _*).coalesce(1).write.parquet(dir + "/_temporary/0")
    new java.io.File(dir, "_SUCCESS").createNewFile()
    val trie = MetricTrie.empty.refresh(spark, dir)
    assert(trie.search("s.*").map(_._1).toSet === Set("s.a", "s.b"))
    // a folded file is gone: the snapshot is rebuilt from what is listed
    assert(second.delete())
    assert(trie.refresh(spark, dir).search("s.*").map(_._1).toSet === Set("s.a"))
  }

  /** `body`'s result, its Spark jobs, and the rows its tasks read. */
  private def probed[T](body: => T): (T, Dev.Measured, Long) = {
    val sc = spark.sparkContext
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val probe = new Dev.Probe(sc)
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      var out: Option[T] = None
      val m = probe.measure { out = Some(body) }
      (out.get, m, records.get)
    } finally { probe.close(); sc.removeSparkListener(listener) }
  }

  /** A snapshot's whole state over the names on disk at `dir`. */
  private def state(t: MetricTrie, dir: String): (Long, Seq[(String, Option[String])], Seq[(String, String)]) = {
    val names = spark.read.parquet(dir).select("name").as[String].collect().distinct.sorted.toSeq
    (t.size, names.map(n => n -> t.statusOf(n)), Seq("*", "*.*").flatMap(t.search).sorted)
  }

  test("own files fold from memory, in file order with another writer's") {
    val dir = newTree()
    append(dir, Seq(("o.", 1, "", "SIMPLE", 100L), ("o.a", 2, "o.", "SIMPLE", 100L)))
    val base = MetricTrie.empty.refresh(spark, dir)
    // another writer's Spark write lands between this writer's refresh
    // and its own append; both stamp `tie.` in the same second
    val before = committed(dir).toSet
    append(dir, Seq(("tie.", 1, "", "SIMPLE", 500L), ("o.b", 2, "o.", "SIMPLE", 500L)))
    val foreign = (committed(dir).toSet -- before).head
    val own = Seq(TreeNode("tie.", 1, "", "BAN", 500L), TreeNode("o.c", 2, "o.", "SIMPLE", 500L),
      TreeNode("o.a", 2, "o.", "HIDDEN", 400L))
    val ownPath = MetricTrie.append(spark, dir, own)
    val ownFile = committed(dir).find(f => ownPath.endsWith("/" + f.getName)).get
    val (next, m, rowsRead) = probed(base.refresh(spark, dir, Map(ownPath -> own)))
    assert(m.jobs === 1L, m.toString)
    assert(rowsRead === 2L, "the one collect reads the foreign file's rows only")
    val rebuilt = MetricTrie.empty.refresh(spark, dir)
    assert(state(next, dir) === state(rebuilt, dir))
    // the tie goes to the later file in (modification time, path) order
    val later = Seq(foreign, ownFile).maxBy(f => (f.lastModified(), f.getName))
    assert(next.statusOf("tie.") === Some(if (later == ownFile) "BAN" else "SIMPLE"))
    assert(next.statusOf("o.a") === Some("HIDDEN"))
    // the caller's own file as the only new one: no Spark job
    val more = Seq(TreeNode("o.d", 2, "o.", "SIMPLE", 600L))
    val morePath = MetricTrie.append(spark, dir, more)
    val (after, m2, _) = probed(next.refresh(spark, dir, Map(morePath -> more)))
    assert(m2.jobs === 0L, m2.toString)
    assert(state(after, dir) === state(MetricTrie.empty.refresh(spark, dir), dir))
  }

  test("snapshot soak: chained file refreshes race-free against readers") {
    // the hazard the round-5 code review found: an in-place-mutating
    // refresh tears state under a reader holding the same instance.
    // Path-copying must give every reader a frozen snapshot: repeated
    // reads of ONE instance agree, and the sequentially-added extras
    // are always a PREFIX (extra_k visible ⇒ all extra_j, j<k visible).
    val dir = newTree()
    append(dir, ("s.", 1, "", "SIMPLE", 1000L) +:
      (0 until 200).map(i => (s"s.m$i", 2, "s.", "SIMPLE", 1000L)))
    val gens = 12
    @volatile var current = MetricTrie.empty.refresh(spark, dir)
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 3).map { r =>
      val th = new Thread(() => {
        while (!stop) {
          val t = current // hold ONE snapshot across several reads
          val a = t.search("s.*").length
          val vis = (1 to gens).map(k => t.search(s"s.extra$k").nonEmpty)
          val b = t.search("s.*").length
          if (a != b) errs.add(s"reader $r: snapshot changed size $a -> $b")
          val k = vis.takeWhile(identity).length
          if (vis.drop(k).contains(true)) errs.add(s"reader $r: non-prefix extras $vis")
          if (a != 200 + k) errs.add(s"reader $r: size $a but $k extras visible")
        }
      })
      th.start(); th
    }
    try {
      (1 to gens).foreach { k =>
        append(dir, Seq((s"s.extra$k", 2, "s.", "SIMPLE", 1000L + k)))
        current = current.refresh(spark, dir)
      }
    } finally {
      stop = true
      readers.foreach(_.join(10000))
    }
    assert(errs.isEmpty, s"torn reads: ${errs.toArray.mkString("; ")}")
    assert(current.search("s.*").length === 200 + gens)
  }

  test("size reports one node per distinct path") {
    val dir = newTree()
    treeRows.coalesce(1).write.parquet(dir)
    assert(MetricTrie.empty.refresh(spark, dir).size === 8L) // a, b, a.cpu, a.mem, b.cpu, 3 leaves
  }

  test("maxNodes guard refuses oversized trees") {
    val dir = newTree()
    treeRows.coalesce(1).write.parquet(dir)
    intercept[IllegalArgumentException](MetricTrie.empty.refresh(spark, dir, maxNodes = 3))
  }
}
