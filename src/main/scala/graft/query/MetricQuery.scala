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

  /** W3/W4 — gap fill to the dense per-metric grid (reference
    * `data/MetricDataRowCallbackHandler.java:37-105`): exactly
    * `(end-start)/step` points per metric; missing buckets and non-finite
    * values become null. Implemented as one aggregation + a `transform`
    * over `sequence` — no join, no explode, no driver loop.
    *
    * Input: (metric, ts, value) with ts already bucket-aligned.
    * Output: (metric, start, end, step, points: array<double> with nulls).
    */
  /** Dense grid of bucket labels for `params` — empty (not an error)
    * when the range holds no points: `sequence(start, end-step)` with a
    * positive step throws on a degenerate start >= end request.
    */
  private def gridCol(params: QueryParams): Column =
    if (params.pointCount <= 0) array().cast("array<int>")
    else sequence(lit(params.startSeconds), lit(params.endSeconds - params.stepSeconds),
      lit(params.stepSeconds))

  def gapFillSeries(df: DataFrame, params: QueryParams,
                    metricCol: String = "metric", tsCol: String = "ts",
                    valueCol: String = "value"): DataFrame = {
    val cleanValue = when(
      isnan(col(valueCol)) || col(valueCol) === Double.PositiveInfinity ||
        col(valueCol) === Double.NegativeInfinity, lit(null).cast("double")
    ).otherwise(col(valueCol))
    df.filter(col(tsCol) >= params.startSeconds && col(tsCol) < params.endSeconds)
      .groupBy(col(metricCol).as("metric"))
      .agg(map_from_entries(collect_list(struct(col(tsCol).cast("int"), cleanValue))).as("m"))
      .select(
        col("metric"),
        lit(params.startSeconds).as("start"),
        lit(params.endSeconds).as("end"),
        lit(params.stepSeconds).as("step"),
        transform(gridCol(params), t => element_at(col("m"), t)).as("points")
      )
  }

  /** J4 — requested metrics that produced zero rows still emit an all-null
    * series (reference `MetricDataRowCallbackHandler.java:55-69`).
    * `requested` must have a `metric` column.
    */
  def withEmptySeries(series: DataFrame, requested: DataFrame, params: QueryParams): DataFrame = {
    val nulls = requested.select(col("metric")).distinct()
      .join(series.select("metric"), Seq("metric"), "left_anti")
      .select(
        col("metric"),
        lit(params.startSeconds).as("start"),
        lit(params.endSeconds).as("end"),
        lit(params.stepSeconds).as("step"),
        transform(gridCol(params), _ => lit(null).cast("double")).as("points")
      )
    series.unionByName(nulls)
  }

  /** The full read path (SURVEY.md §3.1, steps 3-5): predicates (F1/F2) →
    * dedup (A1) → rollup (A3/W1) → gap fill (W3) → all-null padding (J4).
    * `data` columns: metric, value, timestamp, date, updated.
    *
    * `requested` defaults to `metrics`; pass a superset when some
    * requested names must NOT touch the data (invisible/banned metrics
    * get the all-null series the reference emits for them) — the data
    * scan filters on `metrics` only.
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
    val filtered = data
      .filter(col("metric").isin(metrics: _*))
      .filter(col("timestamp") >= p.startSeconds && col("timestamp") < p.endSeconds)
      .filter(col("date").between(dateLo, dateHi))
      // one shuffle for the whole chain: HashPartitioning(metric)
      // satisfies the dedup, rollup and gap-fill groupings below, which
      // would otherwise shuffle one after another
      .repartition(col("metric"))
    val rolled = rollup(dedupLatest(filtered, Seq("metric", "timestamp"), "value", "updated"),
      fn, p.stepSeconds)
    val series = gapFillSeries(rolled, p)
    import series.sparkSession.implicits._
    withEmptySeries(series, padNames.toDF("metric"), p)
  }
}
