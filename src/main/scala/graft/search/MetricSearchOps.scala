package graft.search

import graft.model.{MetricStatus, TreeLimits}
import graft.names.{Glob, MetricNames}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metric-tree search and status management over the append-only tree
  * table (SURVEY.md §3.2). The reference serves these from an in-memory
  * trie (`search/tree/MetricTree.java`); relationally the trie is just
  * `filter(level && visible && rlike(glob))` over the current tree state —
  * Spark's column pruning + parquet pushdown replace the trie's purpose at
  * rest, and a driver-side cache can be layered on for serving latency.
  */
object MetricSearchOps {

  private val invisible: Seq[String] =
    MetricStatus.all.filterNot(_.visible).map(_.name)

  def visibleCol(status: Column): Column = !status.isin(invisible: _*)

  /** Row-side twin of [[visibleCol]] (used by the driver-side trie). */
  def visibleStatus(status: String): Boolean = !invisible.contains(status)

  /** S6/A2 — current state of the append-only tree table: latest status per
    * name by `updated` (reference `SELECT name, argMax(status, updated) ...
    * GROUP BY name`, `search/MetricSearch.java:319-324`). `level` and
    * `parent` are functions of `name`, so they group with it: a filter on
    * name, level or parent then pushes below the aggregation.
    */
  def currentTree(tree: DataFrame): DataFrame =
    tree.groupBy("name", "level", "parent")
      .agg(
        max_by(col("status"), col("updated")).as("status"),
        max(col("updated")).as("updated")
      )

  /** Glob search (X1 + F3): nodes at the query's level, visible, matching
    * the translated glob. Invalid globs return an empty result, matching
    * `MetricTree.java:227-233`. Runs on the CURRENT tree (dedup applied).
    */
  def search(tree: DataFrame, query: String): DataFrame =
    searchMany(tree, Seq(query))

  /** The tree rows any of `queries` matches: the per-pattern (level &&
    * glob) predicates ORed together. A function of the name alone, so it
    * selects whole version histories and pushes below [[currentTree]].
    */
  def matchesAny(queries: Seq[String]): Column =
    // native codegen'd predicate (graft.functions.GlobMatchExpression);
    // invalid globs fold to constant false → no rows
    queries.map { q =>
      col("level") === MetricNames.level(q) && graft.functions.functions.glob_match(col("name"), q)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Multi-pattern search in ONE pass over the current tree, so N
    * dashboard patterns cost one tree aggregation, not N sequential jobs.
    */
  def searchMany(tree: DataFrame, queries: Seq[String]): DataFrame =
    currentTree(tree)
      .filter(visibleCol(col("status")) && matchesAny(queries))
      .select("name", "status")

  /** [[currentTree]] on the driver, for the names `rows` selects: the
    * latest (parent, status) per name. The raw rows are collected and the
    * latest version kept per name, so a lookup is one Spark job with no
    * shuffle. `rows` must be a predicate on name, level or parent (all
    * functions of the name), so it keeps or drops a name's whole version
    * history; driver memory is bounded by the rows it keeps. On an
    * `updated` tie the row read last wins, which is how [[currentTree]]'s
    * `max_by` resolves a tie between two tree files (a batch's SIMPLE
    * row and a `setStatus` row stamped in the same second).
    */
  def currentStatus(tree: DataFrame, rows: Column): Map[String, (String, String)] = {
    import tree.sparkSession.implicits._
    tree.filter(rows).select("name", "parent", "status", "updated")
      .as[(String, String, String, Long)].collect()
      .groupBy(_._1).map { case (name, versions) =>
        val (_, parent, status, _) = versions.reduce((a, b) => if (b._4 >= a._4) b else a)
        name -> (parent, status)
      }
  }

  /** Children per (parent dir, kind) over the current tree. Counts ALL
    * statuses — the reference's limit gate checks raw map sizes, with
    * banned/hidden children included (`MetricDir.java:59-95`). ONE
    * aggregation: a name's parent never changes across its append-only
    * status rows, so `count(DISTINCT name)` within (parent, kind)
    * groups equals counting the deduped currentTree — without stacking
    * a second shuffle on top of the per-name aggregation.
    */
  def childCounts(tree: DataFrame): DataFrame =
    tree.groupBy(col("parent"), col("name").endsWith(".").as("is_dir"))
      .agg(countDistinct(col("name")).as("children"))

  /** Limit-notification pseudo-rows for a search (reference
    * `MetricTree.appendLimitNotificationsIfNeeded`,
    * `search/tree/MetricTree.java:181-188`): when the query's last level
    * is the bare `*` pattern, each matched VISIBLE parent dir that is at
    * or past a cap surfaces a `<parent>._SUBDIRS_LIMIT_REACHED_MAX_N` /
    * `<parent>._METRICS_LIMIT_REACHED_MAX_N` row, so a dashboard user
    * browsing a full dir sees WHY new children stopped appearing.
    * Non-`*` last levels (globs, literals) emit nothing, like the
    * reference. Schema matches [[search]]: (name, status=APPROVED —
    * `NotificationMetric.java:12` constructs with APPROVED).
    *
    * Cost: the parent lookup's name-glob filter pushes BELOW the
    * currentTree aggregation (group-key predicate), so that branch
    * shuffles only matching names; [[childCounts]] is one
    * distinct-count aggregation. Relational searches are the cold
    * path — the trie cache serves hot lookups with the same rows.
    */
  def limitNotifications(tree: DataFrame, query: String, limits: TreeLimits): DataFrame = {
    val spark = tree.sparkSession
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("name", "status")
    val levels = MetricNames.splitToLevels(query)
    if (!limits.enabled || levels.isEmpty || levels.last != "*" ||
      MetricNames.level(query) != levels.length) return empty
    // matched visible parent dirs ("" = the always-visible root for "*")
    val parents =
      if (levels.length == 1) Seq("").toDF("parent")
      else searchMany(tree, Seq(levels.init.mkString(".") + "."))
        .select(col("name").as("parent"))
    val withCounts = parents.join(childCounts(tree), Seq("parent"))
    def notif(isDir: Boolean, max: Int, message: String): DataFrame =
      if (max <= 0) empty
      else withCounts
        .filter(col("is_dir") === isDir && col("children") >= max)
        .select(concat(col("parent"), lit(message)).as("name"),
          // reference's NotificationMetric is born APPROVED
          // (NotificationMetric.java:12), not SIMPLE — consumers
          // branching on status must see the same rows
          lit(MetricStatus.Approved.name).as("status"))
    notif(isDir = true, limits.maxSubDirsPerDir, limits.subdirsMessage)
      .unionByName(notif(isDir = false, limits.maxMetricsPerDir, limits.metricsMessage))
  }

  /** [[search]] plus [[limitNotifications]] — the reference's servlet
    * result shape (notifications precede the listing).
    */
  def searchWithLimits(tree: DataFrame, query: String, limits: TreeLimits): DataFrame =
    if (!limits.enabled) search(tree, query)
    else limitNotifications(tree, query, limits).unionByName(search(tree, query))

  /** Status change (ban/approve/hide...): returns the rows to APPEND to the
    * tree table for the names matching `namePattern`.
    */
  def setStatus(tree: DataFrame, namePattern: String, newStatus: MetricStatus,
                updatedSeconds: Long): DataFrame = {
    val re = Glob.queryToRegex(namePattern)
      .getOrElse("^" + java.util.regex.Pattern.quote(namePattern) + "$")
    transitionRows(currentTree(tree).filter(col("name").rlike(re)), newStatus, updatedSeconds)
  }

  /** Tree rows moving each node of `target` (rows of [[currentTree]])
    * to `newStatus`. The restricted transition graph
    * (`MetricStatus.selectStatus`) is applied against each node's
    * current status, so e.g. a BAN survives an automatic SIMPLE update.
    * No-op transitions (effective status unchanged) append nothing:
    * repeated sweeps over a stable set must not grow the append-only
    * tree table.
    */
  private[graft] def transitionRows(target: DataFrame, newStatus: MetricStatus,
                                    updatedSeconds: Long): DataFrame =
    target.select(
      col("name"), col("level"), col("parent"),
      col("status").as("__old"),
      selectStatusCol(col("status"), lit(newStatus.name)).as("status"),
      lit(updatedSeconds).as("updated")
    )
      .filter(col("status") =!= col("__old"))
      .drop("__old")

  /** Column form of [[MetricStatus.selectStatus]], folded from the same
    * restricted-edge table (reference `MetricStatus.java:48-57`).
    */
  def selectStatusCol(oldStatus: Column, newStatus: Column): Column =
    MetricStatus.restricted.foldLeft(when(oldStatus === newStatus, oldStatus)) {
      case (c, (from, to)) =>
        c.when(oldStatus === from.name && newStatus.isin(to.map(_.name).toSeq: _*), oldStatus)
    }.otherwise(newStatus)

  /** T6 — declarative dir visibility: a directory is auto-hidden when all
    * of its children are invisible (reference counter-based
    * `search/tree/MetricDir.java:106-168`, derived here with one
    * aggregation instead of mutable per-dir counters).
    */
  def dirVisibility(tree: DataFrame): DataFrame =
    currentTree(tree)
      .groupBy(col("parent").as("dir"))
      .agg(
        sum(visibleCol(col("status")).cast("int")).as("visible_children"),
        count(lit(1)).as("children")
      )
      .withColumn("auto_hide", col("visible_children") === 0)

  /** A4/F4/F5 — autohide candidate detection (reference
    * `AutoHideService.java:129-137`): metrics with fewer than `maxValues`
    * points and no point newer than `missingSeconds` ago.
    */
  def autoHideCandidates(data: DataFrame, maxValues: Long, cutoffSeconds: Long): DataFrame =
    data.groupBy("metric")
      .agg(count(lit(1)).as("cnt"), max(col("updated")).as("last_updated"))
      .filter(col("cnt") < maxValues && col("last_updated") < cutoffSeconds)
}
