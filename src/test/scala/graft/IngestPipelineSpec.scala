package graft

import java.nio.file.{Files, Path, Paths}

import graft.api.Graft
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** `processBatch`'s driver-side decisions and its crash/replay safety:
  * the driver ancestor expansion against its column twins, the batch's
  * Spark job count against an existing tree, and the same `search` /
  * `metricData` answers after a failed, half-written or replayed batch
  * as after a clean run.
  */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def pipeFor(dir: String) = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")

  test("driver ancestors and tree nodes equal ancestorsCol / levelCol / parentCol") {
    val pipe = pipeFor("/tmp/unused")
    val segment = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('_', '-'))))
      .map(_.mkString)
    val name = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, segment)).map(_.mkString("."))
    val prop = Prop.forAll(Gen.listOfN(40, name)) { names =>
      val cols = names.toDF("metric").select(col("metric"), pipe.ancestorsCol(col("metric")).as("a"))
        .as[(String, Seq[String])].collect().toMap
      val paths = names.flatMap(pipe.ancestors).distinct
      val nodes = pipe.treeNodes(spark, paths, 0L).select("name", "level", "parent")
        .as[(String, Int, String)].collect().toSet
      val colNodes = names.toDF("metric").select(explode(pipe.ancestorsCol(col("metric"))).as("name"))
        .select(col("name"), pipe.levelCol(col("name")), pipe.parentCol(col("name")))
        .as[(String, Int, String)].collect().toSet
      // an independent model: level counts segments, parent is the dir
      // prefix of the name with any trailing dot stripped
      val model = paths.map { p =>
        val stripped = p.stripSuffix(".")
        (p, stripped.count(_ == '.') + 1, stripped.substring(0, stripped.lastIndexOf('.') + 1))
      }.toSet
      names.forall(n => cols(n) == pipe.ancestors(n)) && nodes == colNodes && nodes == model
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.toString)
    assert(pipe.ancestors("solo") === Seq("solo"))
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
