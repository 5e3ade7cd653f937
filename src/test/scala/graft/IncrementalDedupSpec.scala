package graft

import graft.streaming.IncrementalDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-at-admission corpus construction: exact and near dups of the
  * already-admitted corpus (and of earlier docs in the same batch) are
  * rejected; the signature table carries admission state across batches.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // non-repetitive text: distinct-shingle mass scales with length, so a
  // small edit stays a small Jaccard perturbation (repeated text has a
  // tiny distinct set and tiny edits swing the similarity wildly)
  private val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango uniform " +
    "victor whiskey xray yankee zulu binary stream shuffle partition")

  test("cross-batch and in-batch near-dup admission control") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val pipe = new IncrementalDedup(s"$dir/corpus", s"$dir/sigs", minhashSim = 0.5)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = pipe.start(source.toDF().toDF("doc_id", "text"), s"$dir/ckpt")
    try {
      // batch 1: an original, an exact dup (punct variant), a distinct doc
      source.addData(
        (1L, base),
        (2L, base + "!!"),                       // near/exact dup of 1 (same shingle mass)
        (3L, "entirely different content about query engines " * 10))
      q.processAllAvailable()
      // batch 2: near-dup of doc 1 (small edit) + genuinely new doc
      source.addData(
        (10L, base.replace("zulu", "zed")),      // near-dup of admitted 1
        (11L, "novel text with completely fresh vocabulary " * 10))
      q.processAllAvailable()
      // batch 3: exact replay of doc 3's content under a new id
      source.addData((20L, "entirely different content about query engines " * 10))
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && ids.contains(3L) && ids.contains(11L))
    assert(!ids.contains(2L), "in-batch dup admitted")
    assert(!ids.contains(10L), "cross-batch near-dup admitted")
    assert(!ids.contains(20L), "cross-batch exact dup admitted")
    // signature table only holds admitted docs
    val sigIds = spark.read.parquet(s"$dir/sigs").select("id").distinct().as[Long].collect().toSet
    assert(sigIds === ids)
  }

  test("a sigs dir holding only a crashed first write reads as a first batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup_crash").toString
    // a crashed task's staging dir and no committed part file
    val staged = java.nio.file.Paths.get(s"$dir/sigs/_temporary/0/_temporary/attempt_0_0000_m_000000_0")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val pipe = new IncrementalDedup(s"$dir/corpus", s"$dir/sigs", minhashSim = 0.5)
    pipe.processBatch(Seq((1L, base), (2L, base + "!!"),
      (3L, "entirely different content about query engines " * 10)).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$dir/corpus").select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    assert(spark.read.parquet(s"$dir/sigs").select("id").distinct().as[Long].collect().toSet === Set(1L, 3L))
  }
}
