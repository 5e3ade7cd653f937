package graft.search

import graft.model.MetricStatus
import graft.names.MetricNames
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metric-tree search over the append-only tree table (SURVEY.md §3.2)
  * as Spark plans over [[currentTree]], and the autohide candidate
  * aggregate: the oracle queries and `Graft.currentTree` run here. The
  * facade's reads and status writes and the ingest path resolve names in
  * [[MetricTrie]] instead (the reference's in-memory
  * `search/tree/MetricTree.java`), whose search contract is [[search]]'s
  * rows over the same tree state.
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

  /** A4/F4/F5 — autohide candidate detection (reference
    * `AutoHideService.java:129-137`): metrics with fewer than `maxValues`
    * points and no point newer than `missingSeconds` ago.
    */
  def autoHideCandidates(data: DataFrame, maxValues: Long, cutoffSeconds: Long): DataFrame =
    data.groupBy("metric")
      .agg(count(lit(1)).as("cnt"), max(col("updated")).as("last_updated"))
      .filter(col("cnt") < maxValues && col("last_updated") < cutoffSeconds)
}
