package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (0 for
  * none); spans of one request or batch share `request`.
  */
final case class Span(id: Int, parent: Int, name: String, request: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; a no-op when tracing is off. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](name: String, request: Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0), name, request, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = Tracer.selfMs(s, all.filter(_.parent == s.id))

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "request" -> Json.num(s.request), "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def selfMs(s: Span, children: Seq[Span]): Double = {
    // union of the children's intervals, clipped to the parent
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }
}

/** Spark work per job group: the benchmark sets a group on the calling
  * thread before each call it wants attributed.
  */
final class SparkCounters extends SparkListener {
  final class C {
    val jobs, stages, inputBytes, inputRecords, shuffleBytes = new AtomicLong()
  }
  private val groups = new ConcurrentHashMap[String, C]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val total = new C

  def group(g: String): C = groups.computeIfAbsent(g, _ => new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    Seq(group(g), total).foreach(_.jobs.incrementAndGet())
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null) Seq(group(stageGroup.getOrDefault(info.stageId, "")), total).foreach { c =>
      c.stages.incrementAndGet()
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** One file write the engine made: output dir, time, files, bytes, rows. */
final case class Write(path: String, ms: Double, files: Long, bytes: Long, rows: Long)

/** Records every parquet write, so the appends inside `processBatch`
  * and the rewrites inside compaction can be told apart by output path.
  */
final class WriteLog extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val writes = new ConcurrentLinkedQueue[Write]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    commands(qe.executedPlan).foreach { w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          def metric(n: String) = w.metrics.get(n).map(_.value).getOrElse(0L)
          writes.add(Write(i.outputPath.toUri.getPath, durationNs / 1e6,
            metric("numFiles"), metric("numOutputBytes"), metric("numOutputRows")))
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def commands(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case c: CommandResultExec => commands(c.commandPhysicalPlan)
    case other => collect(other) { case w: DataWritingCommandExec => w }
  }

  /** Removes and returns the writes recorded so far. */
  def take(): Seq[Write] = Iterator.continually(writes.poll()).takeWhile(_ != null).toSeq
}

/** Scan counters of an executed plan: files, bytes and rows read. */
object Scans extends AdaptiveSparkPlanHelper {
  final case class Read(files: Long, bytes: Long, rows: Long)

  def of(plan: SparkPlan): Read = {
    val scans = collectWithSubqueries(plan) { case s if s.nodeName.startsWith("Scan") => s }
    def sum(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    Read(sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}
