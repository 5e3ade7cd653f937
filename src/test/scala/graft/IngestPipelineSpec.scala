package graft

import java.nio.file.{Files, Path, Paths}

import graft.api.Graft
import graft.model.{MetricPoint, TreeLimits}
import graft.names.MetricNames
import graft.streaming.IngestPipeline
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** `processBatch`'s driver-side decisions and its crash/replay safety:
  * the driver name arithmetic against a Scala model and a Spark column
  * model, the per-dir cap admission against an independent model, the
  * batch's Spark job count against an existing
  * tree (caps off and on), and the same `search` /
  * `metricData` answers after a failed, half-written or replayed batch
  * as after a clean run.
  */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def pipeFor(dir: String) = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")

  /** An independent model of the name arithmetic: a name's ancestor
    * dirs are its segment prefixes, its level counts segments and its
    * parent is the dir prefix of the name with any trailing dot stripped.
    */
  private def modelPaths(n: String): Seq[String] = {
    val segs = n.split('.')
    (1 until segs.length).map(i => segs.take(i).mkString("", ".", ".")) :+ n
  }
  private def modelLevel(p: String): Int = p.stripSuffix(".").count(_ == '.') + 1
  private def modelParent(p: String): String = {
    val stripped = p.stripSuffix(".")
    stripped.substring(0, stripped.lastIndexOf('.') + 1)
  }

  /** A second model of the same arithmetic, in Spark SQL column
    * expressions: "a.b.c" → ["a.", "a.b.", "a.b.c"], its level and its
    * parent dir.
    */
  private def ancestorsCol(name: Column): Column = {
    val parts = split(name, "\\.")
    val n = size(parts)
    transform(sequence(lit(1), n), i =>
      when(i < n, concat(array_join(slice(parts, lit(1), i), "."), lit("."))).otherwise(name))
  }
  private def levelCol(name: Column): Column = {
    val dots = size(split(name, "\\.")) - 1
    when(name.endsWith("."), dots).otherwise(dots + 1)
  }
  private def parentCol(name: Column): Column = {
    val stripped = when(name.endsWith("."), name.substr(lit(1), length(name) - 1)).otherwise(name)
    val plen = length(stripped) - length(substring_index(stripped, ".", -1))
    when(plen > 0, stripped.substr(lit(1), plen)).otherwise(lit(""))
  }

  test("driver ancestors and tree nodes equal ancestorsCol / levelCol / parentCol") {
    val pipe = pipeFor("/tmp/unused")
    val segment = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('_', '-'))))
      .map(_.mkString)
    val name = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, segment)).map(_.mkString("."))
    // the tree node processBatch writes for a new path
    def node(p: String) = (p, MetricNames.level(p), MetricNames.parent(p))
    val driver = Prop.forAll(Gen.listOfN(40, name)) { names =>
      names.forall(n => pipe.ancestors(n) == modelPaths(n)) &&
        names.flatMap(modelPaths).forall(p => node(p) == ((p, modelLevel(p), modelParent(p))))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), driver)
    assert(res.passed, res.toString)
    val columns = Prop.forAll(Gen.listOfN(40, name)) { names =>
      val cols = names.toDF("metric").select(col("metric"), ancestorsCol(col("metric")).as("a"))
        .as[(String, Seq[String])].collect().toMap
      val colNodes = names.toDF("metric").select(explode(ancestorsCol(col("metric"))).as("name"))
        .select(col("name"), levelCol(col("name")), parentCol(col("name")))
        .as[(String, Int, String)].collect().toSet
      names.forall(n => cols(n) == pipe.ancestors(n)) && names.flatMap(pipe.ancestors).map(node).toSet == colNodes
    }
    val colRes = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), columns)
    assert(colRes.passed, colRes.toString)
    assert(pipe.ancestors("solo") === Seq("solo"))
  }

  test("per-dir caps admit exactly what an independent model admits") {
    val day = java.sql.Date.valueOf("2024-01-10")
    val name = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))).map(_.mkString("."))
    val batchCase = for {
      existing <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, name))
      batch <- Gen.choose(1, 16).flatMap(Gen.listOfN(_, name))
      maxSubDirs <- Gen.choose(0, 3)
      maxMetrics <- Gen.choose(0, 3)
    } yield (existing, batch.distinct, TreeLimits(maxSubDirs, maxMetrics))
    val prop = Prop.forAllNoShrink(batchCase) { case (existing, batch, limits) =>
      val dir = Files.createTempDirectory("graft_caps_prop").toString
      val tree = existing.flatMap(modelPaths).distinct
      if (tree.nonEmpty)
        tree.map(p => (p, modelLevel(p), modelParent(p), "SIMPLE", 1L))
          .toDF("name", "level", "parent", "status", "updated").write.parquet(s"$dir/tree")
      val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree", limits = limits)
      pipe.processBatch(batch.map(n => MetricPoint(n, 1.0, 1704844800, day, 1704844800)).toDS(), 0L)

      // the model: per (parent, kind), fresh siblings in name order are
      // admitted while existing + rank <= cap; a refused dir takes its
      // subtree with it
      def kin(a: String, b: String) = modelParent(a) == modelParent(b) && a.endsWith(".") == b.endsWith(".")
      val fresh = batch.flatMap(modelPaths).distinct.filterNot(tree.contains)
      def over(n: String): Boolean = {
        val cap = if (n.endsWith(".")) limits.maxSubDirsPerDir else limits.maxMetricsPerDir
        cap > 0 && tree.count(kin(_, n)) + fresh.count(m => kin(m, n) && m <= n) > cap
      }
      val overs = fresh.filter(over)
      val refused = fresh.filter(n => overs.exists(d => n == d || (d.endsWith(".") && n.startsWith(d)))).toSet
      val wantTree = fresh.filterNot(refused).map(p => (p, modelLevel(p), modelParent(p), "SIMPLE")).toSet
      val gotTree = spark.read.parquet(s"$dir/tree").filter(col("updated") =!= 1L)
        .select("name", "level", "parent", "status").as[(String, Int, String, String)].collect().toSet
      val gotData =
        if (!Files.exists(Paths.get(s"$dir/data"))) Set.empty[String]
        else spark.read.parquet(s"$dir/data").select("metric").as[String].collect().toSet
      ((gotTree == wantTree) :| s"tree rows $gotTree, model $wantTree") &&
        ((gotData == batch.toSet -- refused) :| s"written metrics $gotData, refused $refused")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.toString)
  }

  test("a batch against an existing tree runs a pinned number of Spark jobs") {
    val dir = Files.createTempDirectory("graft_ingest_jobs").toString
    val pipe = pipeFor(dir)
    pipe.processBatch(pipe.parseBatch(lines(0 until 40).toDS(), 1700000000), 0L)
    // half the names exist, half are new; points span two dates
    val next = pipe.parseBatch(lines(20 until 60).toDS(), 1700000001)
    val treeRows = spark.read.parquet(s"$dir/tree").count()
    val probe = new Dev.Probe(spark.sparkContext)
    val m = try probe.measure(pipe.processBatch(next, 1L)) finally probe.close()
    assert(m.jobs === 6L, m.toString)
    assert(spark.read.parquet(s"$dir/tree").count() - treeRows === 20 * 3, "20 new hosts: a dir and 2 metrics each")
  }

  test("a batch with per-dir caps on runs a pinned number of Spark jobs") {
    val dir = Files.createTempDirectory("graft_ingest_caps_jobs").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree",
      limits = TreeLimits(maxSubDirsPerDir = 12, maxMetricsPerDir = 1))
    // 10 hosts per app dir, one metric each
    pipe.processBatch(pipe.parseBatch(lines(0 until 40).toDS(), 1700000000), 0L)
    // 5 new hosts per app dir: 2 fit under the subdir cap, and of each
    // new host only its first metric (cpu) fits under the metric cap
    val next = pipe.parseBatch(lines(20 until 60).toDS(), 1700000001)
    val treeRows = spark.read.parquet(s"$dir/tree").count()
    val probe = new Dev.Probe(spark.sparkContext)
    val m = try probe.measure(pipe.processBatch(next, 1L)) finally probe.close()
    assert(m.jobs === 9L, m.toString)
    assert(spark.read.parquet(s"$dir/tree").count() - treeRows === 4 * 2 * 2, "8 new hosts: a dir and a metric each")
  }

  /** Graphite lines for hosts `hosts`: two metrics each, points either
    * side of a midnight, plus one line under the banned dir.
    */
  private def lines(hosts: Range): Seq[String] =
    hosts.flatMap { h =>
      val dir = s"one_min.app${h % 4}.host$h"
      Seq(s"$dir.cpu ${h * 1.5} 1699919940", s"$dir.cpu ${h + 0.25} 1699920060",
        s"$dir.mem ${h * 2.0} 1699920000")
    } :+ "one_min.spam.x 1.0 1699920000"

  private val batches = Seq(lines(0 until 8), lines(4 until 12) :+ "one_min.app1.host1.cpu 99.0 1699920120")

  /** A store seeded with a banned dir and an AUTO_HIDDEN metric, so the
    * ban gate and the revival both take part in every batch.
    */
  private def seeded(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString
    Seq(("one_min.spam.", 2, "one_min.", "BAN", 1000L),
      ("one_min.app1.host1.cpu", 3, "one_min.app1.host1.", "AUTO_HIDDEN", 1000L))
      .toDF("name", "level", "parent", "status", "updated")
      .write.parquet(s"$dir/tree")
    dir
  }

  private def ingest(dir: String, id: Int): Unit = {
    val pipe = pipeFor(dir)
    pipe.processBatch(pipe.parseBatch(batches(id).toDS(), 1700000000 + id), id.toLong)
  }

  /** What a reader sees: searches at every level, and every metric's
    * series over the batches' window.
    */
  private def answers(dir: String): (Seq[Set[(String, String)]], Map[String, Seq[Any]]) = {
    val g = new Graft(spark, s"$dir/data", s"$dir/tree")
    val searches = Seq("*", "one_min.*", "one_min.*.*", "one_min.*.*.*", "one_min.spam.*")
      .map(q => g.search(q).as[(String, String)].collect().toSet)
    val names = (batches.flatten.map(_.split(' ')(0)) :+ "one_min.unknown").distinct
    val series = g.metricData(names, 1699919880, 1699920180, nowSeconds = 1699920300).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[scala.collection.Seq[Any]]("points").toSeq).toMap
    (searches, series)
  }

  private lazy val clean = {
    val dir = seeded("graft_replay_clean")
    batches.indices.foreach(ingest(dir, _))
    answers(dir)
  }

  /** Makes the next tree append fail: the committer cannot create its
    * staging dir where a plain file sits. Readers skip `_`-prefixed names.
    */
  private def blockTreeAppend(dir: String): Path =
    Files.write(Paths.get(s"$dir/tree/_temporary"), Array[Byte](1))

  private def dataCount(dir: String): Long = spark.read.parquet(s"$dir/data").count()

  test("replay after a failure between the data append and the tree append") {
    val dir = seeded("graft_replay_fail")
    ingest(dir, 0)
    val before = dataCount(dir)
    val block = blockTreeAppend(dir)
    intercept[Exception](ingest(dir, 1))
    assert(dataCount(dir) > before, "the data append landed before the failure")
    assert(!spark.read.parquet(s"$dir/tree").select("name").as[String].collect()
      .exists(_.contains("host11")), "the tree append did not")
    Files.delete(block)
    ingest(dir, 1)
    assert(answers(dir) === clean)
  }

  test("replay over a half-written tree append (leftover _temporary)") {
    val dir = seeded("graft_replay_half")
    ingest(dir, 0)
    val block = blockTreeAppend(dir)
    intercept[Exception](ingest(dir, 1))
    Files.delete(block)
    // a crashed task's partial part file under the committer's staging dir
    val part = Files.list(Paths.get(s"$dir/tree")).filter(_.toString.endsWith(".parquet")).findFirst().get
    val staged = Paths.get(s"$dir/tree/_temporary/0/_temporary/attempt_0_0001_m_000000_0")
    Files.createDirectories(staged)
    val bytes = Files.readAllBytes(part)
    Files.write(staged.resolve(part.getFileName), bytes.take(bytes.length / 2))
    ingest(dir, 1)
    assert(answers(dir) === clean)
  }

  test("a whole batch replayed with the same id") {
    val dir = seeded("graft_replay_twice")
    ingest(dir, 0)
    ingest(dir, 1)
    ingest(dir, 1)
    assert(answers(dir) === clean)
  }
}
