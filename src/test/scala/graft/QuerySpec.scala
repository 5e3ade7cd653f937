package graft

import graft.query.{MetricQuery, QueryParams}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Read-core goldens: dedup, rollup dispatch, gap fill
  * (reference MetricDataRowCallbackHandlerTest, FIXTURES.md §6).
  */
class QuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("gap fill golden: dense grid with nulls and padding") {
    val rolled = Seq(
      ("name1", 100, 33.33), ("name1", 160, 42.0),
      ("name2", 160, 32.0), ("name2", 220, 77.7)
    ).toDF("metric", "ts", "value")
    val out = MetricQuery.gapFillSeries(rolled, QueryParams(100, 280, 60))
      .orderBy("metric").collect()
    assert(out.length == 2)
    val Array(n1, n2) = out
    assert(n1.getAs[String]("metric") == "name1")
    assert(n1.getAs[Int]("start") == 100 && n1.getAs[Int]("end") == 280 && n1.getAs[Int]("step") == 60)
    assert(n1.getAs[scala.collection.Seq[Any]]("points") == Seq(33.33, 42.0, null))
    assert(n2.getAs[scala.collection.Seq[Any]]("points") == Seq(null, 32.0, 77.7))
  }

  test("gap fill: NaN value becomes null point") {
    val rolled = Seq(("m", 100, Double.NaN), ("m", 160, 1.5)).toDF("metric", "ts", "value")
    val out = MetricQuery.gapFillSeries(rolled, QueryParams(100, 220, 60)).collect()(0)
    assert(out.getAs[scala.collection.Seq[Any]]("points") == Seq(null, 1.5))
  }

  test("dedup latest-write-wins (A1)") {
    val df = Seq(
      ("m", 100, 10.0, 1), ("m", 100, 12.0, 5), ("m", 160, 7.5, 2),
      ("n", 100, 1.0, 9)
    ).toDF("metric", "ts", "value", "updated")
    val got = MetricQuery.dedupLatest(df, Seq("metric", "ts"), "value", "updated")
      .orderBy("metric", "ts").select("metric", "ts", "value", "updated")
      .as[(String, Int, Double, Int)].collect().toSeq
    assert(got == Seq(("m", 100, 12.0, 5), ("m", 160, 7.5, 2), ("n", 100, 1.0, 9)))
  }

  test("rollup dispatch: avg/min/max/sum/any/last") {
    val df = Seq(
      ("m", 100, 1.0, 1), ("m", 130, 3.0, 2), ("m", 170, 5.0, 3)
    ).toDF("metric", "timestamp", "value", "updated")
    def run(fn: String): Double =
      MetricQuery.rollup(df, fn, 120).filter($"ts" === 120)
        .select("value").as[Double].collect()(0)
    assert(run("avg") == 4.0)
    assert(run("min") == 3.0)
    assert(run("max") == 5.0)
    assert(run("sum") == 8.0)
    assert(run("last") == 5.0)
    val bucket0 = MetricQuery.rollup(df, "avg", 120).filter($"ts" === 0)
      .select("value").as[Double].collect()(0)
    assert(bucket0 == 1.0)
    intercept[IllegalArgumentException](MetricQuery.aggFor("bogus", lit(1), lit(1)))
  }

  test("metricData end-to-end: dedup → rollup → gapfill → all-null padding") {
    val data = Seq(
      ("a.x", 10.0, 100, java.sql.Date.valueOf("1970-01-01"), 1),
      ("a.x", 12.0, 100, java.sql.Date.valueOf("1970-01-01"), 5), // wins dedup
      ("a.x", 7.0, 170, java.sql.Date.valueOf("1970-01-01"), 2),
      ("a.y", 99.0, 500, java.sql.Date.valueOf("1970-01-01"), 1)  // out of range
    ).toDF("metric", "value", "timestamp", "date", "updated")
    val out = MetricQuery.metricData(data, Seq("a.x", "a.z"), "avg", QueryParams(60, 240, 60))
      .orderBy("metric").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("metric") == "a.x")
    assert(out(0).getAs[scala.collection.Seq[Any]]("points") == Seq(12.0, 7.0, null))
    assert(out(1).getAs[String]("metric") == "a.z")
    assert(out(1).getAs[scala.collection.Seq[Any]]("points") == Seq(null, null, null))
  }

  test("metricData: dedup → rollup → gap fill share one shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_query_plan").toString
    // several files: a single-partition scan would need no shuffle at all
    val day = java.sql.Date.valueOf("1970-01-01")
    (0 until 40).map(i => (s"a.${"xyzw"(i % 4)}", i.toDouble, 60 + i * 4, day, i))
      .toDF("metric", "value", "timestamp", "date", "updated")
      .repartition(4).write.partitionBy("date").parquet(s"$dir/data")
    val frame = MetricQuery.metricData(spark.read.parquet(s"$dir/data"), Seq("a.x", "a.y"), "avg",
      QueryParams(60, 240, 60))
    val plan = frame.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // one repartition per scan of the data (the series, and the padding's
    // anti-join side) plus the padding's distinct: the series chain's
    // three groupings add none
    assert(shuffles.size === 3, s"\n$plan")
    assert(shuffles.count(_.shuffleOrigin == REPARTITION_BY_COL) === 2, s"\n$plan")
    assert(frame.collect().length === 2)
  }

  test("bucket arithmetic matches intDiv semantics") {
    val df = Seq(0, 59, 60, 61, 3599, 3600).toDF("sec")
    val got = df.select(MetricQuery.bucket($"sec", 60).as("b")).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 60, 60, 3540, 3600))
  }
}
