package graft

import graft.sources.CorpusIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus boundary I/O: JSONL ingest against the explicit schema with
  * corrupt-record quarantine, and the shard-partitioned training
  * layout round-trip.
  */
class CorpusIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("readJsonl: clean rows land typed, ragged fields null, corrupt lines quarantine with raw text") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0", "n_chars": 11}""",
      """{"doc_id": 2, "text": "ragged row"}""",            // missing fields → null
      """{"doc_id": 3, "text": "extra", "lang": "de", "bogus": 7}""", // extra field ignored
      """{"doc_id": 4, "text": "broken""",                  // malformed JSON
      """not json at all""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      lines.mkString("\n").getBytes)
    val (docs, corrupt) = CorpusIO.readJsonl(spark, dir)
    assert(docs.columns.toSeq === Seq("doc_id", "text", "lang", "source", "n_chars"))
    val byId = docs.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet === Set(1L, 2L, 3L))
    assert(byId(1L).getString(1) === "hello world" && byId(1L).getLong(4) === 11L)
    assert(byId(2L).isNullAt(2) && byId(2L).isNullAt(3)) // lang/source null
    assert(byId(3L).getString(2) === "de")               // extra field dropped
    val bad = corrupt.as[String].collect().toSet
    assert(bad === Set("""{"doc_id": 4, "text": "broken""", "not json at all"))
  }

  test("writeSharded/readSharded: q103 layout persists — shard dirs prune, global order reproduces") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/corpus"
    val docs = (1L to 40L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    CorpusIO.writeSharded(docs, dir, shards = 4, seed = 7L)
    // shard dirs exist → partition pruning serves single-shard readers
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("shard=")) && dirs.nonEmpty)
    // the corpus back in its global training order (shard-major, position-minor)
    val back = spark.read.parquet(dir).orderBy("shard", "shard_pos")
    // same (shard, shard_pos) assignment as computing the layout fresh
    val expected = graft.ops.SampleOps.shardShuffle(docs, "doc_id", 4, 7L)
      .select("doc_id", "shard", "shard_pos")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val got = back.select("doc_id", "shard", "shard_pos")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got === expected)
    // a single-shard reader sees a contiguous 0-based position run
    val s0 = back.filter(col("shard") === 0).select("shard_pos")
      .as[Long].collect().sorted
    assert(s0 === (0L until s0.length).toArray)
  }
}
