package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Dev CLI over the named queries (`SparkEntry.queries` and
  * `SparkEntry.benchOnlyQueries`), on Bench's session
  * ([[LocalSession]]), reading the corpus at `SPARK_GRAFT_SF_DIR`:
  *
  *  - `plan <query> [file]`: the formatted physical plan and its Exchange
  *    count; with `file` the plan is written there instead of stdout.
  *  - `run <query> [n]`: one warm run, then `n` (default 3) timed
  *    `toRdd.count()` runs, each with the Spark work it fired.
  *  - `scale <x> <query>...`: each query on the corpus and on an ×x copy
  *    of it ([[replicate]]); prints both times and the exponent
  *    log_x(t_x / t_1): ~1 is linear, well above 1 a plan that will not
  *    survive the next order of magnitude.
  */
object Dev {
  /** Wall time and Spark work of one measured call. */
  final case class Measured(seconds: Double, jobs: Long, stages: Long,
                            spillBytes: Long, maxTaskMs: Long) {
    override def toString: String =
      f"$seconds%.3f s, $jobs jobs, $stages stages, spill $spillBytes B, max task $maxTaskMs ms"
  }

  /** Counts jobs, completed stages, spilled bytes and the longest task
    * over one [[measure]] call. Jobs fired while a query is being BUILT
    * (collect gates, training loops, localCheckpoints) count too.
    */
  final class Probe(sc: SparkContext) extends AutoCloseable {
    private val jobs, stages, spillBytes, maxTaskMs = new AtomicLong
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        maxTaskMs.accumulateAndGet(e.taskInfo.duration, (a, b) => math.max(a, b))
      }
    }
    sc.addSparkListener(listener)

    def measure(body: => Any): Measured = {
      ListenerBusDrain(sc) // earlier work must not leak into this count
      Seq(jobs, stages, spillBytes, maxTaskMs).foreach(_.set(0))
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      Measured(dt, jobs.get, stages.get, spillBytes.get, maxTaskMs.get)
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    (SparkEntry.queries ++ SparkEntry.benchOnlyQueries)
      .getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))

  /** Shuffle Exchange nodes in a formatted plan's tree. */
  def exchanges(plan: String): Int = "(?m)^\\s*[+:]?[- ]*Exchange".r.findAllIn(plan).size

  def plan(spark: SparkSession, sfDir: String, name: String, file: Option[String]): String = {
    val plan = query(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    file match {
      case Some(f) => Files.writeString(Paths.get(f), plan)
      case None => println(plan)
    }
    println(s"$name: ${plan.linesIterator.size} plan lines, ${exchanges(plan)} Exchange")
    plan
  }

  def run(spark: SparkSession, sfDir: String, name: String, n: Int): Seq[Measured] = {
    val fn = query(name)
    val probe = new Probe(spark.sparkContext)
    try {
      fn(spark, sfDir).queryExecution.toRdd.count() // warm: codegen, JIT, page cache
      (1 to n).map { i =>
        val m = probe.measure(fn(spark, sfDir).queryExecution.toRdd.count())
        println(s"$name run $i: $m")
        m
      }
    } finally probe.close()
  }

  /** Writes an ×x copy of the corpus at `sfDir` into `out`. Documents,
    * embeddings and events get x copies with ids offset per copy (so
    * auto-k policies see the true n, and every doc gains x-1 verbatim
    * duplicates); embedding copies shift by 0.001 per copy, so they are
    * near-duplicates rather than identical. Event copies offset user ids,
    * so the user population grows ×x with per-user structure kept. The
    * other tables are symlinked unchanged.
    */
  def replicate(spark: SparkSession, sfDir: String, x: Int, out: String): Unit = {
    def copies(table: String)(shift: (DataFrame, Long) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$sfDir/$table.parquet")
      (0 until x).map(i => shift(df, i.toLong)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    copies("documents")((d, i) => d.withColumn("doc_id", col("doc_id") + i * 10000000L))
    copies("embeddings")((e, i) => e
      .withColumn("vec_id", col("vec_id") + i * 10000000L)
      .withColumn("embedding", transform(col("embedding"), v => v + lit(0.001f * i))))
    // ts is TIMESTAMP(NANOS), readable only as a raw long (SparkEntry.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    copies("events")((e, i) => e
      .withColumn("user_id", col("user_id") + i * 1000000L)
      .withColumn("event_id", col("event_id") + i * 100000000L))
    val copied = Set("documents.parquet", "embeddings.parquet", "events.parquet")
    Files.list(Paths.get(sfDir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !copied(p.getFileName.toString))
      .foreach(p => Files.createSymbolicLink(Paths.get(out).resolve(p.getFileName), p.toAbsolutePath))
  }

  /** Per query: (base, ×x, exponent). Each shape runs once untimed first. */
  def scale(spark: SparkSession, sfDir: String, x: Int,
            names: Seq[String]): Seq[(String, Measured, Measured, Double)] = {
    require(x >= 2, s"scale factor must be at least 2, got $x")
    val fns = names.map(n => n -> query(n))
    val dir = Files.createTempDirectory("graft_scale")
    val probe = new Probe(spark.sparkContext)
    try {
      replicate(spark, sfDir, x, dir.toString)
      fns.map { case (name, fn) =>
        def once(d: String) = probe.measure(fn(spark, d).queryExecution.toRdd.count())
        once(sfDir); once(dir.toString)
        val base = once(sfDir)
        val big = once(dir.toString)
        val exponent = math.log(big.seconds / base.seconds) / math.log(x.toDouble)
        println(s"$name base: $base")
        println(s"$name x$x: $big")
        println(f"$name exponent: $exponent%.2f")
        (name, base, big, exponent)
      }
    } finally {
      probe.close()
      deleteTree(dir)
    }
  }

  private[graft] def deleteTree(root: Path): Unit =
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  private val usage =
    "usage: graft.Dev plan <query> [file] | run <query> [n] | scale <x> <query>..."

  def main(args: Array[String]): Unit = {
    val command: (SparkSession, String) => Any = args.toList match {
      case "plan" :: name :: file if file.size <= 1 => plan(_, _, name, file.headOption)
      case "run" :: name :: n if n.size <= 1 => run(_, _, name, n.headOption.fold(3)(_.toInt))
      case "scale" :: x :: names if names.nonEmpty => scale(_, _, x.toInt, names)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = LocalSession.create()
    try command(spark, LocalSession.sfDir) finally spark.stop()
  }
}
