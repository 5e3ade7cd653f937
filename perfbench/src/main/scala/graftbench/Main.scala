package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Operations attempted and failed. A call that throws, or whose answer
  * is wrong, fails its operation; every failure is kept and printed.
  */
final class Outcomes {
  private val attemptedN = new AtomicInteger
  private val failedN = new AtomicInteger
  val errors = new ConcurrentLinkedQueue[String]()

  /** Runs one operation; Some(result) unless it threw. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attemptedN.incrementAndGet()
    try Some(f)
    catch { case NonFatal(e) => fail(what, e.toString); None }
  }

  /** Marks an attempted operation whose answer was wrong. */
  def wrong(what: String, why: String): Unit = fail(what, why)

  /** Checks made after the timed phase count as operations too. */
  def check(what: String)(problem: => Option[String]): Unit =
    attempt(what)(problem).flatten.foreach(wrong(what, _))

  private def fail(what: String, why: String): Unit = {
    failedN.incrementAndGet()
    errors.add(s"$what: $why")
  }

  def attempted: Int = attemptedN.get
  def failed: Int = failedN.get
}

/** What one run shares: the session, the tracer and Spark counters
  * (registered only when tracing), the outcome counts.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val counters = new SparkCounters
  val writes = new WriteLog
  val outcomes = new Outcomes
  if (args.trace) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(writes)
  }

  /** Attributes the calling thread's next Spark jobs to `g`. */
  def group(g: String): Unit = spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  /** Waits until every Spark event posted so far has been counted. */
  def drain(): Unit = if (args.trace) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def dir(name: String): String = args.work.resolve(name).toString

  /** Median of `reps` set-ups, each into a fresh directory; returns the
    * last set-up's result and the median time in seconds.
    */
  def setUp[A](reps: Int)(build: String => A): (A, Double) = {
    val runs = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      val a = build(dir(s"store$r"))
      (a, (System.nanoTime() - t0) / 1e9)
    }
    println(runs.map(r => "%.2f".format(r._2)).mkString("setup runs (s): ", " ", ""))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  private var gc0 = 0L
  private var jobs0 = 0L
  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Marks the start of the timed phase: set-up's and warm-up's spans,
    * writes and jobs are not the timed phase's.
    */
  def startTimed(): Unit = {
    drain(); writes.take(); tracer.clear(); gc0 = gcMs; jobs0 = counters.total.jobs.get
    cpu0 = cpuNs; steal0 = stealJiffies; wall0 = System.nanoTime()
  }

  private var cpu0, wall0 = 0L
  private var steal0 = Option.empty[Long]
  /** This process's CPU time, all threads: the engine's cost whatever
    * else the machine runs.
    */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Time the hypervisor ran something else on this VM's CPUs, if the
    * kernel reports it (`steal` in /proc/stat, in 1/100 s).
    */
  private def stealJiffies: Option[Long] =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat")).toOption.flatMap { src =>
      try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+")(8).toLong) finally src.close()
    }

  /** Where the timed phase's wall time went on this machine: this
    * process's CPU, and CPU time stolen by the hypervisor.
    */
  private def machineNote: String = {
    val wallS = (System.nanoTime() - wall0) / 1e9
    val cpus = Runtime.getRuntime.availableProcessors()
    val steal = (steal0, stealJiffies) match {
      case (Some(a), Some(b)) => f", steal ${(b - a) / 100.0 / (wallS * cpus) * 100}%.1f%%"
      case _ => ""
    }
    f"timed phase on $cpus cpus: process cpu ${(cpuNs - cpu0) / 1e9 / (wallS * cpus) * 100}%.0f%%$steal"
  }

  /** Marks its end: JVM GC time and Spark jobs over the timed phase; the
    * checks that follow run in their own job group.
    */
  def endTimed(): Seq[Metric] = {
    drain()
    println(machineNote)
    group("check")
    Seq(Metric("spark.gc_ms", (gcMs - gc0).toDouble, "ms"),
      Metric("spark.jobs", (counters.total.jobs.get - jobs0).toDouble, "count"))
  }
}

/** A workload's report: end-to-end metrics (untraced run) or per-layer
  * metrics (traced run), plus notes printed above the result line.
  */
final case class Report(metrics: Seq[Metric], notes: Seq[String])

object Main {
  def bytesUnder(dirs: String*): Long = dirs.map(Paths.get(_)).filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }.sum

  def millis(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** "name: pNN = v unit over n samples", the run's tail, if it has one. */
  def tailNote(name: String, xs: Seq[Double], unit: String): String =
    Stats.tail(xs) match {
      case Some(t) => f"$name: p${t.percentile}%.1f = ${t.value}%.3f $unit over ${t.samples} samples"
      case None => s"$name: no tail (p90 with 10 samples beyond it takes 101 samples; ${xs.size} here)"
    }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work)
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args)
    try {
      val report = args.workload match {
        case "ingest" => Workloads.ingest(ctx)
        case "dashboard" => Workloads.dashboard(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      val o = ctx.outcomes
      report.notes.foreach(println)
      o.errors.asScala.take(20).foreach(e => println(s"FAILED $e"))
      println(f"error_share: ${o.failed}/${o.attempted} = ${o.failed.toDouble / o.attempted}%.4f")
      report.metrics.foreach(m => println(s"${m.name}: ${m.value} ${m.unit}"))
      if (args.trace) ctx.tracer.write(args.work.resolve("spans.jsonl"))
      val metrics = Json.obj(report.metrics.map { m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })
      println(Json.obj(Seq(
        "correct" -> (if (o.failed == 0) "true" else "false"),
        "attempted" -> Json.num(o.attempted.toLong),
        "failed" -> Json.num(o.failed.toLong),
        "metrics" -> metrics)))
    } finally spark.stop()
  }
}
