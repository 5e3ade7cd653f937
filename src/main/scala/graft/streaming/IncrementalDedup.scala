package graft.streaming

import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental corpus construction with dedup-at-admission: each
  * micro-batch of candidate documents is admitted only if it is neither
  * an exact duplicate nor a MinHash near-duplicate of the corpus built
  * so far (or of an earlier doc in the same batch).
  *
  * This is the continuously-growing-training-set shape: the corpus and
  * its signature table are append-only parquet; per batch the engine
  * reads ONLY the signature table (fixed-width rows: fingerprint,
  * MinHash signature, LSH band key — never the corpus text) and
  * equi-joins the batch against it on fingerprint and band key. State
  * therefore grows with corpus SIZE, not stream LIFETIME, and lives in
  * storage, not executor memory — at 100 TB the signature table is the
  * only thing the hot path touches, and the band-key equi-join prunes
  * to hash-bucket collisions before the signature comparison. Every
  * join here is an equi-join (hash/broadcast as AQE sees fit) — no
  * OR-condition nested loops.
  *
  * Replay safety: admission is idempotent per content (a replayed batch
  * re-checks against signatures that now include its own earlier write,
  * so its docs dedup away) — at-least-once delivery cannot double-admit
  * a document's content, the same T4 contract as metric ingest.
  */
final class IncrementalDedup(
    corpusPath: String,
    sigPath: String,
    numHashes: Int = 16,
    bands: Int = 4,
    minhashSim: Double = 0.7
) extends Serializable {

  /** Signatures for a set of docs: one row per (doc, band key), with
    * the exact-content fingerprint and full MinHash signature carried
    * on each row.
    */
  def signaturesFor(docs: DataFrame): DataFrame =
    // one-pass native signature (same family as batch minHashCandidates
    // — a corpus signature table stays comparable across both paths);
    // map-only: no join, no aggregation, just the band-key explode
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("id"),
        TextOps.fingerprint(col("text")).as("fp"),
        graft.functions.ShingleExprs.minHashSig(
          TextOps.normalized(col("text")), 8, numHashes).as("sig"))
      .select(col("id"), col("fp"), col("sig"),
        explode(DedupOps.bandKeys(col("sig"), bands, numHashes / bands)).as("band"))

  /** Estimated Jaccard = fraction of matching signature positions. */
  private def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)) / lit(numHashes.toDouble)

  /** One micro-batch: admit batch docs that are not exact dups (same
    * fingerprint) or near-dups (band collision whose signatures agree
    * on ≥ `minhashSim` of positions) of the existing corpus or of an
    * earlier (smaller-id) doc in the same batch.
    */
  def processBatch(docs: DataFrame, batchId: Long): Unit = {
    val spark = docs.sparkSession
    val batchSigs = signaturesFor(docs).cache()
    try {
      // read with the batch's own schema, so a dir that holds no
      // committed parquet (a crash mid-first-write left only
      // `_temporary`) is an empty table, and no read infers a schema
      val existing: Option[DataFrame] = {
        val p = new org.apache.hadoop.fs.Path(sigPath)
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          Some(spark.read.schema(batchSigs.schema).parquet(sigPath))
        else None
      }
      def dupsAgainst(candidates: DataFrame, reference: DataFrame,
                      alsoRequire: Column = lit(true)): DataFrame = {
        val exact = candidates.as("a")
          .join(reference.as("b"), col("a.fp") === col("b.fp") && alsoRequire, "left_semi")
          .select(col("id"))
        val near = candidates.as("a")
          .join(reference.as("b"),
            col("a.band") === col("b.band") && alsoRequire &&
              estJaccard(col("a.sig"), col("b.sig")) >= minhashSim, "left_semi")
          .select(col("id"))
        exact.union(near)
      }
      val dupOfCorpus = existing.map(ex => dupsAgainst(batchSigs, ex))
        .getOrElse(spark.emptyDataFrame.withColumn("id", lit(0L)).limit(0).select("id"))
      // within the batch: keep the smallest id of each duplicate group
      val dupInBatch = dupsAgainst(batchSigs, batchSigs, col("a.id") > col("b.id"))
      val dropIds = dupOfCorpus.union(dupInBatch).distinct()
      val admitted = docs
        .join(dropIds.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      admitted.write.mode("append").parquet(corpusPath)
      batchSigs
        .join(dropIds, Seq("id"), "left_anti")
        .write.mode("append").parquet(sigPath)
    } finally batchSigs.unpersist()
  }

  /** Wire a document stream end-to-end. `docs` columns: doc_id, text. */
  def start(docs: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processBatch(batch.toDF(), id)
      }
      .start()
}
