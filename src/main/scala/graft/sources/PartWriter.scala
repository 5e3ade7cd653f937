package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.{Group, GroupWriter}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The table file format and its commit, in one place. Every parquet
  * file the engine appends to a table is written here: tree deltas and
  * refusal-stats rows on the driver ([[append]]), data parts in the
  * tasks of an ingest batch ([[Format.write]]). A file has the parquet
  * schema and the footer keys (row schema, Spark version) a Spark write
  * of the same `StructType` gives it, in the session's parquet codec,
  * so readers cannot tell the writers apart.
  *
  * Commit protocol: each append stages its files under its own
  * `<table>/_staging/<id>/` ([[staged]]), renames each into the table
  * ([[commit]]) and deletes the dir, whether the call succeeds or fails
  * (a failed write, rename or Spark job). Only a process crash leaves a
  * staged file, and no reader sees one: Spark's file listing skips
  * `_`-prefixed names, and so does the tree snapshot's listing.
  */
object PartWriter {

  /** The dir, under a table, that holds each append's staging dir. It is
    * not `_temporary`, which a Spark write to the same table deletes
    * when it commits.
    */
  val StagingDir = "_staging"

  /** A `Configuration` that travels to tasks (it is `Writable`, not
    * `Serializable`).
    */
  private final class ConfBox(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = value.write(out)
    private def readObject(in: ObjectInputStream): Unit = {
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Writes parquet's example `Group`s with exactly the footer keys
    * given. Not parquet's `ExampleParquetWriter`, whose write support
    * adds a `writer.model.name` footer key that Spark-written files lack.
    */
  private final class GroupSupport(schema: MessageType, footer: java.util.Map[String, String])
      extends WriteSupport[Group] {
    private var out: GroupWriter = _
    override def init(conf: Configuration): WriteSupport.WriteContext = new WriteSupport.WriteContext(schema, footer)
    override def prepareForWrite(consumer: RecordConsumer): Unit = out = new GroupWriter(consumer, schema)
    override def write(g: Group): Unit = out.write(g)
  }

  /** A parquet writer builder over one [[GroupSupport]]. */
  private final class Builder(file: OutputFile, support: GroupSupport)
      extends ParquetWriter.Builder[Group, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Group] = support
  }

  /** How to write files of one table schema; serializable, so tasks
    * write with the driver session's codec and Hadoop settings.
    */
  final class Format private[PartWriter] (schema: StructType, parquetSchema: String,
                                          codec: CompressionCodecName, conf: ConfBox) extends Serializable {

    @transient private lazy val messageType: MessageType = MessageTypeParser.parseMessageType(parquetSchema)

    /** A file name in Spark's part pattern, unique per call. */
    def partName(task: Int): String = f"part-$task%05d-${UUID.randomUUID()}-c000${codec.getExtension}.parquet"

    /** Writes `rows` as one parquet file at `file`, in the order given.
      * Each row holds the schema's values in field order; a null is an
      * absent value.
      */
    def write(file: Path, rows: Iterator[Seq[Any]]): Unit = {
      val footer = java.util.Map.of(
        ParquetReadSupport.SPARK_METADATA_KEY, schema.json,
        "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT)
      val writer = new Builder(HadoopOutputFile.fromPath(file, conf.value), new GroupSupport(messageType, footer))
        .withConf(conf.value).withCompressionCodec(codec).build()
      val groups = new SimpleGroupFactory(messageType)
      try rows.foreach { values =>
        val g = groups.newGroup()
        var i = 0
        values.foreach { v =>
          v match {
            case null      =>
            case s: String => g.add(i, s)
            case d: Double => g.add(i, d)
            case n: Int    => g.add(i, n)
            case n: Long   => g.add(i, n)
          }
          i += 1
        }
        writer.write(g)
      } finally writer.close()
    }
  }

  /** The [[Format]] of `schema` under `spark`'s settings. */
  def format(spark: SparkSession, schema: StructType): Format = {
    val sqlConf = spark.sessionState.conf
    new Format(schema, new SparkToParquetSchemaConverter(sqlConf).convert(schema).toString,
      CompressionCodecName.valueOf(new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName),
      new ConfBox(spark.sparkContext.hadoopConfiguration))
  }

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Runs `body` with a fresh staging dir under `table`, then deletes
    * that dir, whether `body` returns or throws.
    */
  def staged[T](spark: SparkSession, table: String)(body: Path => T): T = {
    val stage = new Path(new Path(table, StagingDir), UUID.randomUUID().toString)
    try body(stage) finally fs(spark, stage).delete(stage, true)
  }

  /** Commits the files at `files`, paths relative to `stage`, by
    * renaming each to the same relative path under `table`.
    */
  def commit(spark: SparkSession, stage: Path, table: String, files: Seq[String]): Unit = {
    val to = files.map(f => f -> new Path(table, f))
    val dirs = to.map(_._2.getParent).distinct
    val tableFs = fs(spark, new Path(table))
    dirs.foreach(d => if (!tableFs.mkdirs(d)) throw new IOException(s"could not create $d"))
    to.foreach { case (f, committed) =>
      val from = new Path(stage, f)
      if (!tableFs.rename(from, committed)) throw new IOException(s"could not commit $from as $committed")
    }
  }

  /** Commits `rows` to the table at `table` as one file, under `subdir`
    * (a partition dir such as `date=2024-01-10`, or "" for the table
    * dir), written on the driver in the order given. Returns the
    * committed file's path as a listing of its dir spells it.
    */
  def append(spark: SparkSession, table: String, schema: StructType, rows: Seq[Seq[Any]],
             subdir: String = ""): String = {
    val fmt = format(spark, schema)
    staged(spark, table) { stage =>
      val file = if (subdir.isEmpty) fmt.partName(0) else s"$subdir/${fmt.partName(0)}"
      fmt.write(new Path(stage, file), rows.iterator)
      commit(spark, stage, table, Seq(file))
      val committed = new Path(table, file)
      fs(spark, committed).getFileStatus(committed).getPath.toString
    }
  }
}
