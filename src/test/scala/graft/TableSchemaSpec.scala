package graft

import graft.api.Graft
import graft.model.{MetricPoint, MetricStatus, TreeNode}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The fixed read schemas of the two tables (`MetricPoint.tableSchema`,
  * `TreeNode.tableSchema`) read what every writer leaves on disk exactly
  * as parquet's schema inference reads it.
  */
class TableSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The inferred read has the fixed schema's columns and types, and
    * both reads return the same rows.
    */
  private def sameRead(fixed: DataFrame, path: String, what: String): Unit = {
    val inferred = spark.read.parquet(path)
    assert(inferred.columns.toSet === fixed.columns.toSet, what)
    val aligned = inferred.select(fixed.columns.map(col).toSeq: _*)
    assert(aligned.schema.map(f => f.name -> f.dataType) === fixed.schema.map(f => f.name -> f.dataType), what)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(fixed) === rows(aligned), what)
    assert(rows(fixed).nonEmpty, what)
  }

  test("processBatch, setStatus and compactAuto files read under the fixed schemas as inferred") {
    // the model's fields, the data table's partition column last
    assert(MetricPoint.tableSchema.fieldNames.toSeq === Seq("metric", "value", "timestamp", "updated", "date"))
    assert(TreeNode.tableSchema.fieldNames.toSeq === Seq("name", "level", "parent", "status", "updated"))
    val dir = java.nio.file.Files.createTempDirectory("graft_schema").toString
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    import spark.implicits._
    pipe.processBatch(pipe.parseBatch(Seq(
      "one_min.app.host1.cpu 1.5 1699919940", "one_min.app.host1.cpu 2.5 1699920060",
      "one_min.app.host2.mem 3.0 1699920000").toDS(), 1700000000), 0L)
    sameRead(g.data, s"$dir/data", "processBatch data")
    sameRead(g.tree, s"$dir/tree", "processBatch tree")
    g.setStatus("one_min.app.host2.mem", MetricStatus.Ban, nowSeconds = 1700000100L)
    sameRead(g.tree, s"$dir/tree", "setStatus tree")
    assert(g.compactAuto(ageDays = -100000).nonEmpty)
    sameRead(g.data, s"$dir/data", "compactAuto data")
  }
}
