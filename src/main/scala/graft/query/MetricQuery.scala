package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planning arithmetic for one /metricData request (reference
  * `data/MetricDataQueryParams.java:24-42`): start/end get aligned to the
  * chosen step; step is the max retention step across requested metrics,
  * coarsened if the point count would exceed `maxPointsPerMetric`.
  * Pure driver-side arithmetic — no data touched.
  */
final case class QueryParams(startSeconds: Int, endSeconds: Int, stepSeconds: Int) {
  def pointCount: Int = (endSeconds - startSeconds) / stepSeconds
}

object QueryParams {
  def create(
      retentionSteps: Seq[Int],
      startSeconds: Int,
      endSeconds: Int,
      maxPointsPerMetric: Int,
      nowSeconds: Long = System.currentTimeMillis() / 1000
  ): QueryParams = {
    val _ = nowSeconds // age already folded into retentionSteps by the caller via stepFor(now - start)
    var step = if (retentionSteps.isEmpty) 1 else retentionSteps.max
    val timeSeconds = endSeconds - startSeconds
    var points = timeSeconds / step
    if (maxPointsPerMetric > 0 && points > maxPointsPerMetric) {
      val ratio = (points + maxPointsPerMetric - 1) / maxPointsPerMetric
      step = step * ratio
      points = timeSeconds / step
    }
    val alignedStart = startSeconds / step * step
    QueryParams(alignedStart, alignedStart + points * step, step)
  }
}

/** The relational read core (SURVEY.md §2.4/§2.5): version dedup →
  * retention rollup → gap fill. All operators are `DataFrame => DataFrame`
  * so they compose and stay inside Catalyst (partial aggregation,
  * predicate pushdown and whole-stage codegen apply untouched).
  */
object MetricQuery {

  /** A1/A2 — latest-write-wins: one row per key set, taking `valueCol` of
    * the row with the greatest `versionCol` (reference `argMax(value,
    * updated)`, `data/MetricDataService.java:73`) and keeping that
    * greatest version under `versionCol`, so a rollup's `last` and a
    * rewritten partition still order later-arriving duplicates. Single
    * hash-aggregate: partial max_by map-side, final reduce after one
    * shuffle on the keys.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], valueCol: String, versionCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(col(valueCol), col(versionCol)).as(valueCol), max(col(versionCol)).as(versionCol))

  /** Rollup aggregation dispatch (reference string-spliced agg names,
    * `data/MetricDataService.java:72` + `retention/MetricRetention.java:33-35`).
    * `any` → first value, `last` → value at max version.
    */
  def aggFor(fn: String, value: Column, version: Column): Column = fn match {
    case "avg"            => avg(value)
    case "max"            => max(value)
    case "min"            => min(value)
    case "sum"            => sum(value)
    case "count"          => count(value).cast("double")
    case "any" | "first"  => first(value, ignoreNulls = false)
    case "last"           => max_by(value, version)
    // heavy-hitter (custom Aggregator; CH `anyHeavy` retention configs)
    case "anyHeavy" | "any_heavy" => graft.functions.AnyHeavy.anyHeavy(value)
    case other            => throw new IllegalArgumentException(s"unsupported rollup function: $other")
  }

  /** W1 — epoch-anchored tumbling bucket label: `ts - (ts % step)`,
    * identical labels to the reference's `intDiv(ts, step) * step`
    * (`data/MetricDataService.java:77`). Pure integer arithmetic keeps it
    * inside whole-stage codegen.
    */
  def bucket(tsSeconds: Column, stepSeconds: Int): Column =
    (tsSeconds - (tsSeconds % stepSeconds)).cast("int")

  /** A3 — retention rollup: one grouped pass computing `fn` per
    * (metric, bucket). Input must already be deduped (A1).
    */
  def rollup(df: DataFrame, fn: String, stepSeconds: Int,
             metricCol: String = "metric", tsCol: String = "timestamp",
             valueCol: String = "value", versionCol: String = "updated"): DataFrame = {
    val versioned =
      if (df.columns.contains(versionCol)) col(versionCol) else lit(0)
    df.groupBy(col(metricCol), bucket(col(tsCol), stepSeconds).as("ts"))
      .agg(aggFor(fn, col(valueCol), versioned).as(valueCol))
  }

  /** Dense grid of bucket labels for `params` — empty (not an error)
    * when the range holds no points: `sequence(start, end-step)` with a
    * positive step throws on a degenerate start >= end request.
    */
  private def gridCol(params: QueryParams): Column =
    if (params.pointCount <= 0) array().cast("array<int>")
    else sequence(lit(params.startSeconds), lit(params.endSeconds - params.stepSeconds),
      lit(params.stepSeconds))

  /** W3/W4 — gap fill to the dense per-metric grid (reference
    * `data/MetricDataRowCallbackHandler.java:37-105`): exactly
    * `(end-start)/step` points per metric; missing buckets and non-finite
    * values become null. Implemented as one aggregation + a `transform`
    * over `sequence` — no join, no explode, no driver loop.
    *
    * J4 — a row with a null `ts` says "this metric is present and has
    * no point": it gives its metric a series (all-null if nothing else
    * lands on the grid) and adds no point, whatever its value. This is
    * how [[metricData]] pads requested metrics that have no data
    * (reference `MetricDataRowCallbackHandler.java:55-69`) inside its
    * one shuffle.
    *
    * Input: (metric, ts, value) with ts already bucket-aligned or null.
    * Output: (metric, start, end, step, points: array<double> with nulls).
    */
  def gapFillSeries(df: DataFrame, params: QueryParams,
                    metricCol: String = "metric", tsCol: String = "ts",
                    valueCol: String = "value"): DataFrame = {
    val cleanValue = when(
      isnan(col(valueCol)) || col(valueCol) === Double.PositiveInfinity ||
        col(valueCol) === Double.NegativeInfinity, lit(null).cast("double")
    ).otherwise(col(valueCol))
    val ts = col(tsCol)
    // collect_list skips the null entry a padding row makes
    df.filter(ts.isNull || (ts >= params.startSeconds && ts < params.endSeconds))
      .groupBy(col(metricCol).as("metric"))
      .agg(map_from_entries(collect_list(when(ts.isNotNull, struct(ts.cast("int"), cleanValue))))
        .as("m"))
      .select(
        col("metric"),
        lit(params.startSeconds).as("start"),
        lit(params.endSeconds).as("end"),
        lit(params.stepSeconds).as("step"),
        transform(gridCol(params), t => element_at(col("m"), t)).as("points")
      )
  }

  /** The full read path (SURVEY.md §3.1, steps 3-5): predicates (F1/F2) →
    * dedup (A1) → rollup (A3/W1) → gap fill (W3) → all-null padding (J4).
    * `data` columns: metric, value, timestamp, date, updated.
    *
    * `requested` defaults to `metrics`; pass a superset when some
    * requested names must NOT touch the data (invisible/banned metrics
    * get the all-null series the reference emits for them) — the data
    * scan filters on `metrics` only.
    *
    * Padding costs no branch of its own: each requested name joins the
    * filtered scan as one null-timestamp row before the one shuffle, so
    * dedup and rollup keep it in a (metric, null) group of its own and
    * [[gapFillSeries]] turns it into the metric's all-null series when
    * the metric has no point on the grid.
    */
  def metricData(data: DataFrame, metrics: Seq[String], fn: String, params: QueryParams,
                 requested: Seq[String] = Seq.empty): DataFrame = {
    val p = params
    val padNames = if (requested.isEmpty) metrics else requested
    // the redundant date predicate is the partition-pruning key (F2 —
    // the reference adds `date BETWEEN toDate(?) AND toDate(?)` to every
    // query for exactly this, `data/MetricDataService.java:75`): without
    // it a 3-hour read still lists every date= partition of the history
    val dateLo = to_date(from_unixtime(lit(p.startSeconds.toLong)))
    val dateHi = to_date(from_unixtime(lit(p.endSeconds.toLong)))
    val points = data
      .filter(col("metric").isin(metrics: _*))
      .filter(col("timestamp") >= p.startSeconds && col("timestamp") < p.endSeconds)
      .filter(col("date").between(dateLo, dateHi))
      .select("metric", "timestamp", "value", "updated")
    val spark = data.sparkSession
    import spark.implicits._
    val padding = padNames.distinct.toDF("metric").select(col("metric") +:
      points.schema.tail.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    // one shuffle for the whole chain: HashPartitioning(metric)
    // satisfies the dedup, rollup and gap-fill groupings below, which
    // would otherwise shuffle one after another
    val filtered = points.unionByName(padding).repartition(col("metric"))
    val rolled = rollup(dedupLatest(filtered, Seq("metric", "timestamp"), "value", "updated"),
      fn, p.stepSeconds)
    gapFillSeries(rolled, p)
  }
}
