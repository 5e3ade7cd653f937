package graft

import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.model.{MetricPoint, MetricStatus, TreeNode}
import graft.search.MetricTrie
import graft.streaming.IngestPipeline
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The fixed read schemas of the two tables (`MetricPoint.tableSchema`,
  * `TreeNode.tableSchema`) read what every writer leaves on disk exactly
  * as parquet's schema inference reads it, and the engine's own writer
  * (`PartWriter`) leaves files a reader cannot tell from Spark's.
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

  /** The distinct (parquet schema, footer row schema, footer keys)
    * triples of the committed files at `dir`.
    */
  private def footers(dir: String): Set[(String, StructType, Set[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().toSeq.filter(f => f.isFile && f.getName.startsWith("part-")).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema.toString,
          DataType.fromJson(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType],
          meta.getKeyValueMetaData.keySet.asScala.toSet)
      } finally reader.close()
    }.toSet
  }

  test("driver-written and Spark-written tree files read alike") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tree_parity").toString
    // distinct stamps per name: the scan-order tie rule plays no part
    val first = Seq(TreeNode("a.", 1, "", "SIMPLE", 1L), TreeNode("a.x", 2, "a.", "SIMPLE", 1L))
    val later = Seq(
      Seq(TreeNode("a.y", 2, "a.", "SIMPLE", 2L), TreeNode("a.x", 2, "a.", "BAN", 3L)),
      Seq(TreeNode("b.", 1, "", "HIDDEN", 4L), TreeNode("b.z", 2, "b.", "SIMPLE", 4L), TreeNode("a.y", 2, "a.", "APPROVED", 5L)))
    val sparkOnly = s"$base/spark/tree"
    val mixed = s"$base/mixed/tree"
    first.toDS().coalesce(1).write.parquet(sparkOnly)
    later.foreach(r => r.toDS().coalesce(1).write.mode("append").parquet(sparkOnly))
    first.toDS().coalesce(1).write.parquet(mixed)
    later.foreach(MetricTrie.append(spark, mixed, _))
    // Spark's file reads make every column nullable, so nullability is
    // checked where it is written: each file's parquet schema and the
    // row schema its footer stores; its footer keys are Spark's too
    assert(footers(mixed) === footers(sparkOnly))
    assert(footers(mixed).map(_._2) === Set(TreeNode.tableSchema))
    assert(spark.read.parquet(mixed).schema === spark.read.parquet(sparkOnly).schema)
    assert(spark.read.parquet(mixed).schema === StructType(TreeNode.tableSchema.map(_.copy(nullable = true))))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def seen(tree: String) = {
      val g = new Graft(spark, s"$base/data", tree)
      val trie = MetricTrie.empty.refresh(spark, tree)
      val names = rows(g.tree.select("name")).distinct
      (rows(g.tree), rows(g.currentTree), names.map(n => n -> trie.statusOf(n)), trie.size)
    }
    assert(seen(mixed) === seen(sparkOnly))
    assert(seen(mixed)._2.size === 5)
  }

  test("task-written and Spark-written data parts read alike") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_data_parity").toString
    val tree = s"$base/tree"
    // 3 metrics on 5 hosts either side of a midnight; the later batch
    // rewrites two thirds of the first one's points
    def lines(range: Range, bump: Double) =
      range.map(i => s"one_min.app.host${i % 5}.m${i % 3} ${i * 0.5 + bump} ${1699919700 + i * 30}")
    val pipe = new IngestPipeline(dataPath = s"$base/scratch", treePath = tree)
    val first = pipe.parseBatch(lines(0 until 30, 0.0).toDS(), 1700000000)
    val later = pipe.parseBatch(lines(10 until 40, 100.0).toDS(), 1700000100)
    pipe.processBatch(first.union(later), 0L) // the tree, so later adds no tree file
    def sparkWrite(batch: org.apache.spark.sql.Dataset[MetricPoint], data: String): Unit =
      batch.sortWithinPartitions("date", "metric", "timestamp").write.mode("append").partitionBy("date").parquet(data)
    val sparkOnly = s"$base/spark/data"
    val mixed = s"$base/mixed/data"
    Seq(first, later).foreach(sparkWrite(_, sparkOnly))
    sparkWrite(first, mixed)
    new IngestPipeline(dataPath = mixed, treePath = tree).processBatch(later, 1L)
    val dates = new java.io.File(sparkOnly).list().filter(_.startsWith("date=")).toSeq.sorted
    assert(dates.size === 2)
    dates.foreach { d =>
      assert(footers(s"$mixed/$d") === footers(s"$sparkOnly/$d"), d)
      assert(footers(s"$mixed/$d").map(_._2) === Set(MetricPoint.fileSchema), d)
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val names = lines(0 until 40, 0.0).map(_.split(' ')(0)).distinct
    def seen(data: String) = {
      val g = new Graft(spark, data, tree)
      val read = (rows(g.data), rows(g.metricData(names, 1699919700, 1699920900, nowSeconds = 1699921000)))
      assert(g.compactAuto(ageDays = -100000).size === 2)
      (read, rows(g.data))
    }
    assert(seen(mixed) === seen(sparkOnly))
  }
}
