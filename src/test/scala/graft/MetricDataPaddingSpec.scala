package graft

import graft.model.MetricPoint
import graft.query.{MetricQuery, QueryParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** J4 padding inside `MetricQuery.metricData`'s one shuffle, checked
  * against the read path it replaces: the series of the same dedup →
  * rollup → gap-fill chain, padded by a left-anti join of the requested
  * names against the series ([[withEmptySeries]]).
  */
class MetricDataPaddingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** J4 — requested metrics that produced zero rows still emit an
    * all-null series (reference `MetricDataRowCallbackHandler.java:55-69`).
    * `requested` must have a `metric` column.
    */
  private def withEmptySeries(series: DataFrame, requested: DataFrame, params: QueryParams): DataFrame = {
    val grid = array(Seq.fill(math.max(params.pointCount, 0))(lit(null).cast("double")): _*)
    val nulls = requested.select(col("metric")).distinct()
      .join(series.select("metric"), Seq("metric"), "left_anti")
      .select(
        col("metric"),
        lit(params.startSeconds).as("start"),
        lit(params.endSeconds).as("end"),
        lit(params.stepSeconds).as("step"),
        grid.cast("array<double>").as("points")
      )
    series.unionByName(nulls)
  }

  /** The read path with its padding as a branch of its own. */
  private def model(data: DataFrame, metrics: Seq[String], fn: String, p: QueryParams,
                    requested: Seq[String]): DataFrame = {
    val padNames = if (requested.isEmpty) metrics else requested
    val filtered = data
      .filter(col("metric").isin(metrics: _*))
      .filter(col("timestamp") >= p.startSeconds && col("timestamp") < p.endSeconds)
      .filter(col("date").between(to_date(from_unixtime(lit(p.startSeconds.toLong))),
        to_date(from_unixtime(lit(p.endSeconds.toLong)))))
    val rolled = MetricQuery.rollup(
      MetricQuery.dedupLatest(filtered, Seq("metric", "timestamp"), "value", "updated"), fn, p.stepSeconds)
    withEmptySeries(MetricQuery.gapFillSeries(rolled, p), padNames.toDF("metric"), p)
  }

  private def answer(df: DataFrame): Seq[(String, Int, Int, Int, Seq[Any])] =
    df.collect().toSeq.map(r => (r.getAs[String]("metric"), r.getAs[Int]("start"), r.getAs[Int]("end"),
      r.getAs[Int]("step"), r.getAs[scala.collection.Seq[Any]]("points").toSeq)).sortBy(_._1)

  private val functions = Seq("avg", "max", "min", "sum", "count", "any", "first", "last",
    "anyHeavy", "any_heavy")
  /** Functions whose answer depends on the order of a bucket's rows. */
  private val orderDependent = Set("any", "first", "anyHeavy", "any_heavy")
  private val pool = Seq("a.m0", "a.m1", "a.m2", "a.m3", "b.m4")
  private val day = java.sql.Date.valueOf("1970-01-01")

  test("metricData pads like the anti-join padding on generated requests") {
    val values = Gen.frequency(6 -> Gen.choose(-50, 50).map(_ / 4.0),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
    val request = for {
      fn <- Gen.oneOf(functions)
      step <- Gen.oneOf(60, 120)
      start = 1200
      points <- Gen.choose(0, 4)
      // timestamps reach a step past either end of the grid; an
      // order-dependent function gets one timestamp per bucket, so its
      // answer is defined by the data, not by the row order
      ts = if (orderDependent(fn)) Gen.choose(-1, points).map(i => start + i * step)
           else Gen.choose(start - step, start + (points + 1) * step - 1)
      n <- Gen.choose(0, 14)
      keys <- Gen.listOfN(n, Gen.zip(Gen.oneOf(pool), ts))
      // each key gets up to 3 versions (distinct `updated`), then some
      // rows are replayed as they are
      versions <- Gen.sequence[List[List[(String, Int, Double)]], List[(String, Int, Double)]](
        keys.distinct.map { case (m, t) =>
          Gen.choose(1, 3).flatMap(Gen.listOfN(_, values)).map(_.map(v => (m, t, v)))
        })
      rows = versions.flatten.zipWithIndex.map { case ((m, t, v), i) => MetricPoint(m, v, t, day, i + 1) }
      replays <- Gen.someOf(rows)
      metrics <- Gen.someOf(pool)
      requested <- Gen.oneOf(Gen.const(Seq.empty[String]), Gen.someOf(pool :+ "c.none").map(_.toSeq))
    } yield (fn, QueryParams(start, start + points * step, step), rows ++ replays, metrics.toSeq, requested)
    val prop = Prop.forAllNoShrink(request) { case (fn, p, rows, metrics, requested) =>
      val data = rows.toDS().toDF()
      val got = answer(MetricQuery.metricData(data, metrics, fn, p, requested))
      val want = answer(model(data, metrics, fn, p, requested))
      // a metric with no point on the grid is all-null: a padding row
      // never shows up as a value (a 0.0 count, say)
      val onGrid = rows.filter(r => metrics.contains(r.metric) &&
        r.timestamp >= p.startSeconds && r.timestamp < p.endSeconds).map(_.metric).toSet
      val empties = got.filterNot(s => onGrid(s._1))
      ((got == want) :| s"$fn $p\nmetricData $got\nmodel      $want") &&
        (empties.forall(_._5.forall(_ == null)) :| s"padded series with values: $empties")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.toString)
  }

  test("a padded metric has an all-null series under every rollup function") {
    val data = Seq(MetricPoint("a.x", 3.0, 1200, day, 1)).toDS().toDF()
    val p = QueryParams(1200, 1380, 60)
    functions.foreach { fn =>
      val got = answer(MetricQuery.metricData(data, Seq("a.x", "a.y"), fn, p, Seq("a.x", "a.y", "a.z")))
      val x = if (fn == "count") 1.0 else 3.0
      assert(got === Seq(("a.x", 1200, 1380, 60, Seq(x, null, null)),
        ("a.y", 1200, 1380, 60, Seq(null, null, null)), ("a.z", 1200, 1380, 60, Seq(null, null, null))), fn)
    }
  }
}
