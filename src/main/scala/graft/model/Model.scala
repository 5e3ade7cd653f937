package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Core data model (SURVEY.md §1.1).
  *
  * A metric point is one time-series sample; the `updated` column is the
  * version: the logical value of `(metric, timestamp)` is the row with the
  * largest `updated` (latest-write-wins, cf. reference
  * `src/main/java/ru/yandex/market/graphouse/Metric.java:11-22` and the
  * `argMax(value, updated)` read in `data/MetricDataService.java:73`).
  */
final case class MetricPoint(
    metric: String,
    value: Double,
    timestamp: Int,
    date: java.sql.Date,
    updated: Int
)

object MetricPoint {
  /** The data table's read schema: the fields of [[MetricPoint]] in the
    * order the writers put them on disk, with the `date` partition
    * column last, where a partitioned parquet read places it. Reading
    * with it skips parquet's schema-inference job.
    */
  val tableSchema: StructType = {
    val fields = Encoders.product[MetricPoint].schema
    StructType(fields.filterNot(_.name == "date") :+ fields("date"))
  }

  /** The columns a data file holds: [[tableSchema]] without `date`,
    * which the file's `date=` dir names.
    */
  val fileSchema: StructType = StructType(tableSchema.filterNot(_.name == "date"))
}

/** One node of the metric-name tree (reference `doc/install.md:158-170`).
  * Directory names carry a trailing dot ("a.b."); `parent` is "" for roots.
  * `updated` is epoch seconds; latest status per `name` wins.
  */
final case class TreeNode(
    name: String,
    level: Int,
    parent: String,
    status: String,
    updated: Long
)

object TreeNode {
  /** The tree table's read schema, the fields of [[TreeNode]]. */
  val tableSchema: StructType = Encoders.product[TreeNode].schema
}

/** Dense gap-filled output series (reference
  * `data/MetricDataRowCallbackHandler.java:96-105`): exactly
  * `(end - start) / step` points, missing buckets are null.
  */
final case class Series(
    metric: String,
    start: Int,
    end: Int,
    step: Int,
    points: Seq[Option[Double]]
)

/** Per-directory tree growth caps (reference `search/tree/
  * MetricTree.java:43-45`): a dir refuses its (maxSubDirsPerDir+1)-th
  * NEW subdir and (maxMetricsPerDir+1)-th NEW metric at ingest, and
  * search surfaces `_SUBDIRS_LIMIT_REACHED_MAX_N` /
  * `_METRICS_LIMIT_REACHED_MAX_N` pseudo-rows on full dirs. 0 = no cap.
  * Protects the tree table and the serving trie from metric-name
  * explosions (one misconfigured client emitting a unique name per
  * request would otherwise grow the tree unboundedly).
  */
final case class TreeLimits(maxSubDirsPerDir: Int = 0, maxMetricsPerDir: Int = 0) {
  def enabled: Boolean = maxSubDirsPerDir > 0 || maxMetricsPerDir > 0
  /** Notification pseudo-metric suffixes (reference MetricTree.java:43-45). */
  def subdirsMessage: String = "_SUBDIRS_LIMIT_REACHED_MAX_" + maxSubDirsPerDir
  def metricsMessage: String = "_METRICS_LIMIT_REACHED_MAX_" + maxMetricsPerDir
}

object TreeLimits {
  val none: TreeLimits = TreeLimits()
}

/** Metric/dir lifecycle status with the visibility rules and restricted
  * transition graph of reference `search/MetricStatus.java:13-103`.
  */
sealed abstract class MetricStatus(val name: String) {
  /** Invisible nodes are excluded from search and (BAN) from ingest. */
  def visible: Boolean = this match {
    case MetricStatus.Simple | MetricStatus.Approved => true
    case _                                           => false
  }
  /** Set by a human (survives automatic transitions). */
  def handmade: Boolean = this match {
    case MetricStatus.Approved | MetricStatus.Ban | MetricStatus.Hidden => true
    case _                                                              => false
  }
}

object MetricStatus {
  case object Simple     extends MetricStatus("SIMPLE")
  case object Ban        extends MetricStatus("BAN")
  case object Approved   extends MetricStatus("APPROVED")
  case object Hidden     extends MetricStatus("HIDDEN")
  case object AutoHidden extends MetricStatus("AUTO_HIDDEN")
  /** Internal-only status, never persisted (reference MetricStatus.java:44). */
  case object AutoBan    extends MetricStatus("AUTO_BAN")

  val all: Seq[MetricStatus] = Seq(Simple, Ban, Approved, Hidden, AutoHidden, AutoBan)
  val persisted: Seq[MetricStatus] = all.filterNot(_ == AutoBan)

  def of(s: String): MetricStatus =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"unknown status: $s"))

  /** Transitions suppressed by the restricted graph
    * (reference MetricStatus.java:48-57): e.g. a BANned node cannot be
    * silently reopened by automatic SIMPLE/AUTO_HIDDEN updates — only an
    * explicit APPROVED (or HIDDEN) lifts a ban.
    */
  private val restricted: Map[MetricStatus, Set[MetricStatus]] = Map(
    Ban      -> Set[MetricStatus](Simple, AutoHidden),
    AutoBan  -> Set[MetricStatus](Simple, AutoHidden),
    Hidden   -> Set[MetricStatus](AutoHidden),
    Approved -> Set[MetricStatus](Simple, AutoHidden)
  )

  /** New effective status honoring the restricted transition graph
    * (reference MetricStatus.java:96-103).
    */
  def selectStatus(oldStatus: MetricStatus, newStatus: MetricStatus): MetricStatus =
    if (oldStatus == newStatus) oldStatus
    else if (restricted.get(oldStatus).exists(_.contains(newStatus))) oldStatus
    else newStatus
}
