package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dev CLI: the shared probe's counts on plans of known shape, and
  * a smoke run of each subcommand on sf0.001.
  */
class DevSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"
  private val cheap = "q01_dedup_latest"

  test("probe: a map-only plan is 1 job and 1 stage; one shuffle gives 2 stages") {
    val probe = new Dev.Probe(spark.sparkContext)
    try {
      val scan = probe.measure(spark.range(0, 1000, 1, 4).queryExecution.toRdd.count())
      assert((scan.jobs, scan.stages) === ((1L, 1L)))
      // AQE runs the shuffle's map stage as its own job, then the result
      // stage (the map stage it skips is not counted)
      val agg = probe.measure(spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 10).as("k")).count().queryExecution.toRdd.count())
      assert((agg.jobs, agg.stages) === ((2L, 2L)))
      assert(agg.spillBytes === 0L)
      assert(agg.maxTaskMs >= 0L && agg.seconds > 0.0)
    } finally probe.close()
  }

  test("plan: formatted plan to stdout or a file, with its Exchange count") {
    val plan = Dev.plan(spark, dir, cheap, None)
    assert(plan.contains("Physical Plan") && Dev.exchanges(plan) === 1)
    val f = Files.createTempFile("graft_plan", ".txt")
    try {
      val written = Dev.plan(spark, dir, cheap, Some(f.toString))
      assert(Files.readString(f) === written)
    } finally Files.delete(f)
    assertThrows[IllegalArgumentException](Dev.plan(spark, dir, "no_such_query", None))
  }

  test("run: n timed runs, each with its jobs and stages") {
    val runs = Dev.run(spark, dir, cheap, 2)
    assert(runs.size === 2)
    assert(runs.forall(m => m.jobs >= 1 && m.stages >= 1 && m.seconds > 0.0))
  }

  test("replicate: x copies of documents, embeddings and events; other tables linked") {
    val out = Files.createTempDirectory("graft_replica")
    try {
      Dev.replicate(spark, dir, 2, out.toString)
      def n(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet").count()
      for (t <- Seq("documents", "embeddings", "events"))
        assert(n(out.toString, t) === 2 * n(dir, t), t)
      assert(n(out.toString, "lineitem") === n(dir, "lineitem"))
      assert(spark.read.parquet(s"$out/documents.parquet").select("doc_id").distinct().count()
        === n(out.toString, "documents"))
    } finally Files.walk(out).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete)
  }

  test("scale 2: base and x2 times with a finite exponent") {
    val Seq((name, base, big, exponent)) = Dev.scale(spark, dir, 2, Seq(cheap))
    assert(name === cheap)
    assert(base.jobs >= 1 && big.jobs >= 1)
    assert(!exponent.isNaN && !exponent.isInfinite)
  }
}
