package graft.search

import scala.collection.mutable

import graft.model.TreeLimits
import graft.names.{Glob, MetricNames}
import org.apache.spark.sql.DataFrame

/** Driver-side in-memory trie over the current metric tree — the
  * serving-latency cache the reference keeps hot
  * (`/root/reference/src/main/java/ru/yandex/market/graphouse/search/tree/MetricTree.java:22-120`):
  * dashboard autocomplete and render fan-out issue thousands of glob
  * lookups per second, which should not each pay a Spark job.
  *
  * CONTRACT: `search(q)` returns exactly what
  * [[MetricSearchOps.search]] returns over the same tree state
  * (level-count match, per-level glob, optional trailing dot for dirs,
  * visibility at emit, invalid glob → empty). The trie is an OPTIONAL
  * cache: correctness never depends on it, and any staleness is bounded
  * by the refresh cadence (the reference tolerates a 120 s propagation
  * window the same way, `search/MetricSearch.java:86-89`).
  *
  * Scale: one node per tree path (~10M names is the reference's design
  * center); segments are interned by the child map, lookups are
  * per-level hash hits for literal segments and compiled-regex scans
  * only for wildcard levels. Not thread-safe for concurrent refresh;
  * swap whole instances instead (build-and-swap like the reference's
  * startup load).
  */
final class MetricTrie private (root: MetricTrie.Node,
                                @volatile private var watermark: Long) {

  /** All (name, status) rows matching the glob query; visibility applied
    * at emit. Invalid globs return empty, matching the reference.
    */
  def search(query: String): Seq[(String, String)] = {
    val levels = MetricNames.splitToLevels(query)
    if (levels.isEmpty) return Nil
    // level-count parity with the relational path: split drops trailing
    // empty segments ("a.b.." → 2) but MetricNames.level counts dots
    // (3); the relational filter can match nothing there, so neither may
    // the trie
    if (MetricNames.level(query) != levels.length) return Nil
    walk(levels.toSeq).flatMap(n => n.metricRow.toSeq ++ n.dirRow.toSeq)
      .filter { case (_, status) => MetricSearchOps.visibleStatus(status) }
  }

  /** The nodes reached from the root by matching `levels` one level at
    * a time: a hash hit for a literal level, a compiled-regex scan of the
    * children for a wildcard one. Any invalid glob level → no nodes.
    */
  private def walk(levels: Seq[String]): List[MetricTrie.Node] = {
    val matchers: Seq[Option[Either[String, java.util.regex.Pattern]]] = levels.map { seg =>
      if (!Glob.hasWildcards(seg)) Some(Left(seg))
      else Glob.levelToRegex(seg).map(re => Right(java.util.regex.Pattern.compile(re)))
    }
    if (matchers.contains(None)) Nil
    else matchers.flatten.foldLeft(List(root)) {
      case (frontier, Left(lit)) => frontier.flatMap(_.children.get(lit))
      case (frontier, Right(p))  => frontier.flatMap(_.children.collect {
        case (seg, child) if p.matcher(seg).matches() => child
      })
    }
  }

  /** The `updated` high-water mark this snapshot has folded in — a
    * [[withDelta]] refresh re-reads from `deltaWatermark − overlap`, so
    * a write stamped older than that needs a full rebuild to be seen
    * (callers compare before choosing refresh vs rebuild).
    */
  def deltaWatermark: Long = watermark

  /** Node count (diagnostics / capacity checks). */
  def size: Long = {
    def count(n: MetricTrie.Node): Long = 1L + n.children.valuesIterator.map(count).sum
    count(root) - 1 // don't count the synthetic root
  }

  /** Incremental refresh: returns a NEW trie with only the tree rows
    * since `watermark − overlapSeconds` folded in, sharing every
    * untouched subtree with this instance — path-copying, so a refresh
    * allocates O(delta × depth × fanout-on-path) nodes instead of
    * rebuilding 10M, the filter pushes to the parquet scan (cost =
    * rows-since, not tree size), and THIS trie is never mutated:
    * readers keep a consistent snapshot and the caller swaps the
    * reference, exactly like a full rebuild, just cheap.
    *
    * Ordering: every node row carries its `updated`; application only
    * overwrites older state (ties overwrite, like the reference's
    * version collapse on equal versions), so re-reading the overlap
    * window is idempotent and delta rows can arrive in any order. The
    * overlap (default 120 s — the propagation window the reference
    * already tolerates) also covers writers stamping slightly-behind
    * clocks. A caller back-dating `updated` beyond the overlap (e.g.
    * `setStatus` with an old explicit timestamp) must
    * [[MetricTrie.fromTree]] rebuild — the delta scan never revisits
    * rows that far behind the watermark.
    */
  def withDelta(tree: DataFrame, overlapSeconds: Long = 120L): MetricTrie = {
    import org.apache.spark.sql.functions.col
    val delta = MetricSearchOps.currentTree(
        tree.filter(col("updated") >= watermark - overlapSeconds))
      .select("name", "status", "updated").collect()
    if (delta.isEmpty) return this
    val owned = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[MetricTrie.Node, java.lang.Boolean]())
    def copyOf(n: MetricTrie.Node): MetricTrie.Node = {
      val c = new MetricTrie.Node
      c.children ++= n.children
      c.metricRow = n.metricRow; c.metricUpd = n.metricUpd
      c.dirRow = n.dirRow; c.dirUpd = n.dirUpd
      owned.add(c); c
    }
    val newRoot = copyOf(root)
    var maxSeen = watermark
    delta.foreach { row =>
      val (name, status, upd) = (row.getString(0), row.getString(1), row.getLong(2))
      var node = newRoot
      MetricNames.splitToLevels(name).foreach { seg =>
        node = node.children.get(seg) match {
          case Some(c) if owned.contains(c) => c
          case Some(c) => val c2 = copyOf(c); node.children.update(seg, c2); c2
          case None =>
            val c2 = new MetricTrie.Node; owned.add(c2)
            node.children.update(seg, c2); c2
        }
      }
      MetricTrie.setRow(node, name, status, upd)
      maxSeen = math.max(maxSeen, upd)
    }
    new MetricTrie(newRoot, maxSeen)
  }

  /** [[search]] plus limit-notification pseudo-rows — trie twin of
    * [[MetricSearchOps.searchWithLimits]] (reference
    * `MetricTree.appendLimitNotificationsIfNeeded`,
    * `search/tree/MetricTree.java:181-188`): a query whose last level is
    * the bare `*` prepends `<parent>._SUBDIRS_LIMIT_REACHED_MAX_N` /
    * `<parent>._METRICS_LIMIT_REACHED_MAX_N` rows for each matched
    * visible parent dir at or past a cap.
    */
  def searchWithLimits(query: String, limits: TreeLimits): Seq[(String, String)] = {
    if (!limits.enabled) return search(query)
    val levels = MetricNames.splitToLevels(query)
    if (levels.isEmpty || levels.last != "*" ||
      MetricNames.level(query) != levels.length) return search(query)
    // the parent frontier; the synthetic root (query "*") is always visible
    val notifs = walk(levels.init.toSeq).flatMap { n =>
      val parentVisible = (n eq root) ||
        n.dirRow.exists { case (_, st) => MetricSearchOps.visibleStatus(st) }
      if (!parentVisible) Nil
      else {
        val parentName = n.dirRow.map(_._1).getOrElse("")
        val dirs = n.children.valuesIterator.count(_.dirRow.isDefined)
        val metrics = n.children.valuesIterator.count(_.metricRow.isDefined)
        // APPROVED, matching NotificationMetric.java:12 and the
        // relational path (MetricSearchOps.limitNotifications)
        val d = if (limits.maxSubDirsPerDir > 0 && dirs >= limits.maxSubDirsPerDir)
          Seq((parentName + limits.subdirsMessage, "APPROVED")) else Nil
        val m = if (limits.maxMetricsPerDir > 0 && metrics >= limits.maxMetricsPerDir)
          Seq((parentName + limits.metricsMessage, "APPROVED")) else Nil
        d ++ m
      }
    }
    notifs ++ search(query)
  }
}

object MetricTrie {

  private[search] final class Node {
    val children: mutable.HashMap[String, Node] = mutable.HashMap.empty
    var metricRow: Option[(String, String)] = None
    var metricUpd: Long = Long.MinValue
    var dirRow: Option[(String, String)] = None
    var dirUpd: Long = Long.MinValue
  }

  /** Build from the append-only tree table: collects the CURRENT state
    * (latest status per name) to the driver. `maxNodes` guards driver
    * memory — the reference's ops guidance is the same shape (>10M
    * names ⇒ raise the 4 GB default heap, `doc/config.md:17-19`).
    */
  def fromTree(tree: DataFrame, maxNodes: Long = 20000000L): MetricTrie = {
    // persist across the guard count and the collect: one currentTree
    // aggregation per refresh, not two
    val current = MetricSearchOps.currentTree(tree).select("name", "status", "updated").persist()
    try {
      val n = current.count()
      require(n <= maxNodes,
        s"metric tree has $n names > maxNodes=$maxNodes; raise the limit (and driver memory)")
      val root = new Node
      var wm = 0L
      current.collect().foreach { row =>
        insert(root, row.getString(0), row.getString(1), row.getLong(2))
        wm = math.max(wm, row.getLong(2))
      }
      new MetricTrie(root, wm)
    } finally current.unpersist()
  }

  private[search] def insert(root: Node, name: String, status: String, updated: Long): Unit = {
    val segs = MetricNames.splitToLevels(name)
    var node = root
    segs.foreach { s => node = node.children.getOrElseUpdate(s, new Node) }
    setRow(node, name, status, updated)
  }

  /** Version-guarded row write: only state at least as new as the
    * stored row wins (ties overwrite — reference ReplacingMergeTree
    * collapses equal versions arbitrarily), making delta application
    * order-independent and idempotent.
    */
  private[search] def setRow(node: Node, name: String, status: String, updated: Long): Unit =
    if (MetricNames.isDir(name)) {
      if (updated >= node.dirUpd) { node.dirRow = Some((name, status)); node.dirUpd = updated }
    } else {
      if (updated >= node.metricUpd) { node.metricRow = Some((name, status)); node.metricUpd = updated }
    }
}
