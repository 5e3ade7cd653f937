package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document-corpus ingest/egress for the LLM-pipeline operators: the
  * corpus formats that actually arrive at a training pipeline (JSONL
  * lines with ragged fields and corrupt records) and the layout a
  * training pipeline actually wants back out (shard-partitioned
  * parquet under the seeded shuffle order, so a downstream reader
  * streams shard files in a reproducible global order).
  *
  * Both sides are schema-explicit: ingest never infers (a schema scan
  * is a full extra pass over 100 TB, and inference drifts with the
  * data — the declared contract is the API), egress writes the same
  * canonical `documents` shape the whole operator suite consumes.
  */
object CorpusIO {

  /** The canonical documents schema every operator in `graft.ops`
    * consumes. `doc_id` is required; text/lang/source are nullable —
    * exactly how the parquet fixtures model multimodal rows.
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Read a JSONL corpus (one JSON document per line — the de-facto
    * LLM-corpus interchange format) against the EXPLICIT documents
    * schema, in PERMISSIVE mode with the standard corrupt-record
    * column: a malformed line becomes a row whose `_corrupt_record`
    * holds the raw text and whose typed fields are null, instead of
    * failing the 100 TB job at line 73 trillion. Missing fields are
    * null; extra fields are ignored (schema projection). The reader is
    * splittable per line — a JSONL file parallelizes like any text
    * file, no whole-file JSON parse.
    *
    * Returns (documents, corrupt): the clean frame in the canonical
    * shape, and the rejected raw lines with their parse position —
    * route them to a quarantine sink, never silently drop (the
    * S2-validation discipline applied to the corpus boundary).
    */
  def readJsonl(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val withCorrupt = documentsSchema.add("_corrupt_record", StringType, nullable = true)
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // one source read feeds both outputs; the split below would
      // otherwise re-parse the file per consumer
      .localCheckpoint(true)
    val clean = raw.filter(col("_corrupt_record").isNull)
      .select(documentsSchema.fieldNames.map(col).toIndexedSeq: _*)
    val corrupt = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, corrupt)
  }

  /** Write a corpus in the SHARD-PARTITIONED training layout: documents
    * land under `shard=K/` directories positioned by the seeded
    * [[graft.ops.SampleOps.shardShuffle]] order (q103's layout,
    * persisted). Each shard directory is one reproducible stream of
    * training data; `sortWithinPartitions(shard_pos)` makes the
    * row-group order inside each shard file match the logical order,
    * so a sequential reader needs no sort. Layout-independent and
    * replayable: same seed + same ids → the same files, whatever the
    * input partitioning was.
    */
  def writeSharded(docs: DataFrame, path: String, shards: Int = 8,
                   seed: Long = 42L, idCol: String = "doc_id"): Unit =
    graft.ops.SampleOps.shardShuffle(docs, idCol, shards, seed)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "shard_pos")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)
}
