package graft.search

import scala.collection.mutable

import graft.model.{MetricStatus, TreeLimits, TreeNode}
import graft.names.{Glob, MetricNames}
import graft.sources.PartWriter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Driver-side in-memory trie over the current metric tree — the
  * serving-latency cache the reference keeps hot
  * (`/root/reference/src/main/java/ru/yandex/market/graphouse/search/tree/MetricTree.java:22-120`):
  * dashboard autocomplete, render fan-out and `/metricData` expansion
  * issue thousands of glob lookups per second, which should not each pay
  * a Spark job.
  *
  * It is the one place the engine resolves tree state: the ingest path
  * (ban gate, new nodes, per-dir caps, AUTO_HIDDEN revivals), `search`,
  * `searchCached`, `/metricData` expansion and status writes
  * ([[matching]], [[transitions]]) all read a snapshot.
  *
  * CONTRACT: `search(q)` returns exactly what
  * [[MetricSearchOps.search]] returns over the same tree state
  * (level-count match, per-level glob, optional trailing dot for dirs,
  * visibility at emit, invalid glob → empty); [[searchWithLimits]]
  * returns the reference's golden sets of
  * `MetricTreeTest.testLimitNotifications` (`TreeLimitsSpec`).
  *
  * A snapshot is keyed by the tree table's committed files: it records
  * the files it has folded in, and [[refresh]] folds in exactly the
  * files listed since. Committed parquet files never change, so a
  * snapshot is exact as of the listing — writes from other processes
  * and back-dated `updated` stamps included. Files are folded in
  * (modification time, path) order and a row overwrites an older or
  * equal `updated`, so an `updated` tie goes to the later-written file.
  *
  * The engine's own tree writes go through [[MetricTrie.append]], which
  * commits one file from the driver through the shared table writer
  * ([[graft.sources.PartWriter]]); its caller passes the rows to
  * [[refresh]], which folds them from memory in the same file order, so
  * no Spark job writes the file or reads it back (the reference's
  * `MetricTree.modify` likewise never re-reads what it saves). The fold
  * also keeps the set of BAN names ([[banned]]), so the ingest ban gate
  * needs no walk of the trie.
  *
  * Scale: one node per tree path (~10M names is the reference's design
  * center); segments are interned by the child map, lookups are
  * per-level hash hits for literal segments and compiled-regex scans
  * only for wildcard levels. Instances are immutable once built: a
  * refresh path-copies into a new instance, and readers keep whichever
  * instance they hold.
  */
final class MetricTrie private (root: MetricTrie.Node,
                                files: Vector[MetricTrie.TreeFile],
                                /** Node count: one node per distinct path. */
                                val size: Long,
                                /** The names, dirs and metrics, whose latest
                                  * status is BAN, kept as rows fold in: the
                                  * ingest ban gate ships them to its tasks.
                                  */
                                val banned: Set[String]) {

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

  /** The latest status of `name` (a dir when it ends in a dot), visible
    * or not; None when the tree has no row for it.
    */
  def statusOf(name: String): Option[String] =
    nodeOf(name).flatMap { n =>
      if (MetricNames.isDir(name)) n.dirRow else n.metricRow
    }.map(_._2)

  /** The names of any status `pattern` selects for a status write: those
    * [[graft.names.Glob.queryToRegex]] matches (trailing dot optional; an
    * empty-matching last level also selects its dir, "a.*" selects "a."),
    * found by a level walk with no level-count cut, so a class admitting
    * a dot ("[!x]") never spans two levels. An invalid glob is a literal.
    */
  def matching(pattern: String): Seq[String] =
    if (Glob.queryToRegex(pattern).isEmpty) statusOf(pattern).map(_ => pattern).toSeq
    else {
      val levels = MetricNames.splitToLevels(pattern).toSeq
      val parents =
        if (Glob.levelToRegex(levels.last).exists("".matches)) walk(levels.init).flatMap(_.dirRow) else Nil
      parents.map(_._1) ++ walk(levels).flatMap(n => n.metricRow.map(_._1) ++ n.dirRow.map(_._1))
    }

  /** The rows moving each of `names` to `to` through the restricted
    * graph ([[MetricStatus.selectStatus]]); unknown names and no-ops give
    * none, so a repeated sweep does not grow the table.
    */
  def transitions(names: Seq[String], to: MetricStatus, updated: Long): Seq[TreeNode] =
    names.distinct.flatMap { name =>
      statusOf(name).flatMap { old =>
        val next = MetricStatus.selectStatus(MetricStatus.of(old), to).name
        if (next == old) None
        else Some(TreeNode(name, MetricNames.level(name), MetricNames.parent(name), next, updated))
      }
    }

  /** The children of dir `dir` ("" is the root), of any status: (dirs,
    * metrics). The reference's per-dir caps count the same raw sizes,
    * banned and hidden children included (`MetricDir.java:59-95`).
    */
  def childCounts(dir: String): (Int, Int) =
    nodeOf(dir).fold((0, 0))(counts)

  private def counts(n: MetricTrie.Node): (Int, Int) =
    (n.children.valuesIterator.count(_.dirRow.isDefined),
      n.children.valuesIterator.count(_.metricRow.isDefined))

  /** The node at the literal path `path`, a name or a dir ("" is the
    * root): the node the fold put its rows on.
    */
  private def nodeOf(path: String): Option[MetricTrie.Node] =
    if (path.isEmpty) Some(root)
    else MetricNames.splitToLevels(path).foldLeft(Option(root))((n, seg) => n.flatMap(_.children.get(seg)))

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

  /** This snapshot brought up to date with the committed files of the
    * tree table at `treePath`. The directory is listed with Spark's
    * rule for a table's files: plain files, minus names starting with
    * `_` or `.` (so `_temporary`, [[append]]'s staging dir and
    * `_SUCCESS` are never read). `written` holds the rows of files the
    * caller has just committed with [[append]], keyed by the path it
    * returned: those fold from memory, and only the other new files are
    * read.
    *   - No new file: returns this instance, and runs no Spark job.
    *   - New files that all sort after the ones folded in: they fold, in
    *     (modification time, path) order, into a path-copied trie that
    *     shares every untouched subtree with this one (this instance is
    *     never mutated). One collect reads the raw (name, status,
    *     updated) rows of the new files not in `written`; when every new
    *     file is in `written`, no Spark job runs.
    *   - A folded file no longer listed (a merge, a replaced store), or
    *     a new file that sorts before the last one folded (a commit that
    *     landed late): the snapshot is rebuilt from all listed files.
    * `maxNodes` guards driver memory — the reference's ops guidance is
    * the same shape (>10M names ⇒ raise the 4 GB default heap,
    * `doc/config.md:17-19`).
    */
  def refresh(spark: SparkSession, treePath: String, written: Map[String, Seq[TreeNode]] = Map.empty,
              maxNodes: Long = 20000000L): MetricTrie = {
    val listed = MetricTrie.committedFiles(spark, treePath)
    val known = files.map(_.path).toSet
    val fresh = listed.filterNot(f => known.contains(f.path))
    val appendOnly = known.subsetOf(listed.map(_.path).toSet) &&
      files.lastOption.forall(last => fresh.forall(f => MetricTrie.order.lt(last, f)))
    if (!appendOnly) MetricTrie.empty.fold(spark, treePath, listed, written, maxNodes)
    else if (fresh.isEmpty) this
    else fold(spark, treePath, fresh, written, maxNodes)
  }

  /** `fresh` files' rows folded, in order, into a path copy of this
    * trie: rows of a file in `written` from memory, the others' from one
    * collect.
    */
  private def fold(spark: SparkSession, treePath: String, fresh: Seq[MetricTrie.TreeFile],
                   written: Map[String, Seq[TreeNode]], maxNodes: Long): MetricTrie = {
    import spark.implicits._
    val unread = fresh.map(_.path).filterNot(written.contains)
    val read: Map[String, Seq[(String, String, Long)]] =
      if (unread.isEmpty) Map.empty
      else spark.read.schema(TreeNode.tableSchema).parquet(treePath)
        .filter(col("_metadata.file_path").isin(unread: _*))
        .select(col("_metadata.file_path"), col("name"), col("status"), col("updated"))
        .as[(String, String, String, Long)].collect().toSeq.groupMap(_._1)(r => (r._2, r._3, r._4))
    def rowsOf(path: String): Seq[(String, String, Long)] =
      written.get(path).fold(read.getOrElse(path, Nil))(_.map(n => (n.name, n.status, n.updated)))
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
    var nodes = size
    var ban = banned
    for (f <- fresh; (name, status, upd) <- rowsOf(f.path)) {
      var node = newRoot
      MetricNames.splitToLevels(name).foreach { seg =>
        node = node.children.get(seg) match {
          case Some(c) if owned.contains(c) => c
          case Some(c) => val c2 = copyOf(c); node.children.update(seg, c2); c2
          case None =>
            val c2 = new MetricTrie.Node; owned.add(c2); nodes += 1
            node.children.update(seg, c2); c2
        }
      }
      if (MetricTrie.setRow(node, name, status, upd))
        ban = if (status == MetricStatus.Ban.name) ban + name else ban - name
    }
    require(nodes <= maxNodes,
      s"metric tree has $nodes names > maxNodes=$maxNodes; raise the limit (and driver memory)")
    new MetricTrie(newRoot, files ++ fresh, nodes, ban)
  }

  /** [[search]] plus limit-notification pseudo-rows (reference
    * `MetricTree.appendLimitNotificationsIfNeeded`,
    * `search/tree/MetricTree.java:181-188`): a query whose last level is
    * the bare `*` prepends `<parent>._SUBDIRS_LIMIT_REACHED_MAX_N` /
    * `<parent>._METRICS_LIMIT_REACHED_MAX_N` rows for each matched
    * visible parent dir at or past a cap, so a user browsing a full dir
    * sees why new children stopped appearing. Other last levels (globs,
    * literals) add nothing, like the reference.
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
        val (dirs, metrics) = counts(n)
        // the reference's NotificationMetric is born APPROVED
        // (NotificationMetric.java:12), not SIMPLE
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

  /** A committed file of the tree table: its path as Spark's
    * `_metadata.file_path` spells it, and its modification time.
    */
  private[search] final case class TreeFile(path: String, modified: Long)

  /** Fold order: modification time, then path. */
  private val order: Ordering[TreeFile] = Ordering.by((f: TreeFile) => (f.modified, f.path))

  /** The snapshot of a tree with no files; [[MetricTrie.refresh]] builds from it. */
  val empty: MetricTrie = new MetricTrie(new Node, Vector.empty, 0L, Set.empty)

  /** The files a read of the tree table sees, in fold order; none before
    * the table's first committed write. An explicit existence check, not
    * a catch: a listing error (an FS hiccup) fails the caller instead of
    * reading as an empty tree, which would re-create every node.
    */
  private def committedFiles(spark: SparkSession, treePath: String): Vector[TreeFile] = {
    val dir = new Path(treePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Vector.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => TreeFile(s.getPath.toString, s.getModificationTime))
      .toVector.sorted(order)
  }

  /** Commits `rows` to the tree table at `treePath` as one parquet file
    * through [[graft.sources.PartWriter.append]], written on the driver
    * in name order (siblings share their parent and level, which then
    * compress to runs), and returns its path as [[committedFiles]]
    * spells it: the key [[refresh]]'s `written` takes. A crash leaves at
    * most a staged file no reader sees.
    */
  def append(spark: SparkSession, treePath: String, rows: Seq[TreeNode]): String =
    PartWriter.append(spark, treePath, TreeNode.tableSchema, rows.sortBy(_.name).map(_.productIterator.toSeq))

  /** Version-guarded row write: only state at least as new as the
    * stored row wins, and a tie overwrites, so of two rows with equal
    * `updated` the one folded later wins. True when the row was written.
    */
  private[search] def setRow(node: Node, name: String, status: String, updated: Long): Boolean =
    if (MetricNames.isDir(name)) {
      val wins = updated >= node.dirUpd
      if (wins) { node.dirRow = Some((name, status)); node.dirUpd = updated }
      wins
    } else {
      val wins = updated >= node.metricUpd
      if (wins) { node.metricRow = Some((name, status)); node.metricUpd = updated }
      wins
    }
}
