package graft.streaming

import java.io.InputStream
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom Structured-Streaming TCP source for the Graphite plaintext
  * protocol (SURVEY §2.1 S1; reference `server/MetricServer.java:167-221`):
  * LISTENS for client connections (graphite clients push lines), stamps
  * each line with its receive time (`updated`), and exposes micro-batches
  * through the DataSource V2 `MicroBatchStream` API.
  *
  * Usage: `spark.readStream.format("graft.streaming.GraphiteSourceProvider")
  * .option("port", "2003").load()` → schema (line STRING, updated INT).
  * `option("port", "0")` binds an ephemeral port, discoverable via
  * [[GraphiteServerRegistry]] (tests).
  *
  * Delivery is at-least-once with an in-memory buffer (the reference's
  * bounded queue has the same crash semantics, `cacher/MetricCacher.java:72`);
  * duplicates collapse downstream via read-side version dedup (A1).
  */
class GraphiteSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraphiteSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraphiteTable(properties.getOrDefault("port", "2003").toInt,
      properties.getOrDefault("name", "graphite"),
      properties.getOrDefault("capacity", "1000000").toInt)
}

object GraphiteSource {
  val Schema: StructType = StructType(Seq(
    StructField("line", StringType, nullable = false),
    StructField("updated", IntegerType, nullable = false)
  ))

  /** Longest line the source accepts, in bytes: a name of at most
    * `maxMetricLength` characters (ASCII, by the validator's whitelist),
    * two separators, and a value and a timestamp of up to 64 bytes each.
    * A longer line could not parse into a valid point anyway.
    */
  val MaxLineBytes: Int = graft.names.MetricValidator().maxMetricLength + 2 + 2 * 64
}

/** `BufferedReader.readLine` over a socket's bytes, with a bound: a line
  * ends at `\n`, `\r` or `\r\n` and decodes as UTF-8 (malformed bytes
  * become U+FFFD, which no valid name contains). A line longer than
  * `maxBytes` is discarded through its terminator and reported to
  * `onDiscard`, so a client that never sends a newline holds at most
  * `maxBytes` of driver memory.
  */
final class BoundedLineReader(in: InputStream, maxBytes: Int, onDiscard: () => Unit) {
  private val chunk = new Array[Byte](8192)
  private var pos, end = 0
  private val line = new java.io.ByteArrayOutputStream(256)
  private var skipLf = false // the previous line ended with '\r'

  /** The next line without its terminator, or null at end of stream. */
  def readLine(): String = {
    var over = false
    while (true) {
      if (pos == end) {
        end = in.read(chunk); pos = 0
        if (end <= 0) {
          end = 0
          if (over) onDiscard()
          return if (!over && line.size > 0) take() else null
        }
      }
      val b = chunk(pos); pos += 1
      if (skipLf && b == '\n') skipLf = false
      else {
        skipLf = b == '\r'
        if (b == '\n' || b == '\r') {
          if (!over) return take()
          onDiscard(); over = false
        } else if (!over) {
          if (line.size < maxBytes) line.write(b) else { over = true; line.reset() }
        }
      }
    }
    null
  }

  private def take(): String = {
    val s = line.toString(java.nio.charset.StandardCharsets.UTF_8)
    line.reset(); s
  }
}

/** Port discovery for ephemeral binds (option port=0) and drop-count
  * accounting (mirrors the reference's bounded-queue reject counter,
  * `cacher/MetricCacher.java:142-163`).
  */
object GraphiteServerRegistry {
  private val ports = new ConcurrentHashMap[String, Integer]()
  private val drops = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[streaming] def publish(name: String, port: Int): Unit = ports.put(name, port)
  private[streaming] def dropCounter(name: String): java.util.concurrent.atomic.AtomicLong =
    drops.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
  def boundPort(name: String): Option[Int] = Option(ports.get(name)).map(_.intValue())
  /** Lines rejected because the in-flight buffer was at capacity, or
    * because they were longer than [[GraphiteSource.MaxLineBytes]].
    */
  def droppedLines(name: String): Long =
    Option(drops.get(name)).map(_.get()).getOrElse(0L)
}

class GraphiteTable(port: Int, name: String, capacity: Int) extends Table with SupportsRead {
  override def name(): String = s"graphite:$port"
  override def schema(): StructType = GraphiteSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraphiteSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraphiteMicroBatchStream(port, name, capacity)
      }
    }
}

case class CountOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Driver-side accepting server + offset-by-count micro-batch stream.
  * One acceptor thread; one reader thread per connection (the reference
  * uses a 100-thread reader pool; connection counts at the ingest tier
  * are modest — fan-in happens before Spark in both designs).
  */
class GraphiteMicroBatchStream(port: Int, name: String, capacity: Int = 1000000)
    extends MicroBatchStream {
  private val buffer = new java.util.ArrayList[(String, Int)]()
  private val clients = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private var dropped = 0L // rows before buffer head (committed+trimmed, or lost on restart)
  private val rejects = GraphiteServerRegistry.dropCounter(name)
  private val running = new AtomicBoolean(true)
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(port))
  GraphiteServerRegistry.publish(name, server.getLocalPort)

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        clients.add(sock)
        val t = new Thread(() => readLoop(sock), s"graphite-reader-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case e: Exception if running.get() =>
          // accept can fail persistently (fd exhaustion, EMFILE) — log
          // and back off instead of busy-spinning the driver at 100% CPU
          System.err.println(s"GraphiteSource[$name]: accept failed: $e; retrying in 100ms")
          try Thread.sleep(100) catch { case _: InterruptedException => () }
        case _: Exception => () // socket closed on stop
      }
    }
  }, s"graphite-acceptor-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  private def readLoop(sock: Socket): Unit = {
    val in = new BoundedLineReader(sock.getInputStream, GraphiteSource.MaxLineBytes,
      () => rejects.incrementAndGet())
    try {
      var line = in.readLine()
      while (line != null) {
        val now = (System.currentTimeMillis() / 1000).toInt
        // bounded buffer: reject-with-counter at capacity rather than
        // growing without limit and OOMing the driver (reference bounds
        // its queue the same way, `graphouse.cacher.queue-size`)
        val accepted = buffer.synchronized {
          if (buffer.size < capacity) { buffer.add((line, now)); true } else false
        }
        if (!accepted) rejects.incrementAndGet()
        // check running BEFORE the next read, not after: a line already
        // read when stop() flips the flag was received and must be
        // buffered (or counted), never silently discarded
        line = if (running.get()) in.readLine() else null
      }
    } catch { case _: Exception => () }
    finally { try sock.close() catch { case _: Exception => () }; clients.remove(sock) }
  }

  override def initialOffset(): Offset = CountOffset(0L)
  override def latestOffset(): Offset =
    buffer.synchronized { CountOffset(dropped + buffer.size) }

  // true once the first batch has been planned/committed: offsets
  // deserialized AFTER that are not restart recovery and must not realign
  @volatile private var firstBatchSeen = false

  /** Called when Spark recovers offsets from the checkpoint log — always
    * BEFORE the first planInputPartitions of this instance. A fresh
    * stream starts with dropped=0 and whatever the (already-listening)
    * server buffered since construction: every buffered line arrived
    * post-restart, so the buffer HEAD maps to the HIGHEST recovered
    * offset (`dropped = n`). Pre-crash lines are gone (logged); mapping
    * fresh lines below the checkpoint would place them inside the
    * committed range, where commit() silently trims them — regardless of
    * whether the buffer has refilled past the checkpoint count.
    */
  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    buffer.synchronized {
      if (!firstBatchSeen && n > dropped) {
        System.err.println(
          s"GraphiteSource[$name]: recovered checkpoint offset $n on a fresh stream " +
          s"(head was $dropped); pre-restart in-flight lines are lost, buffered " +
          s"lines (${buffer.size}) map past the checkpoint")
        dropped = n
      }
    }
    CountOffset(n)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    firstBatchSeen = true
    val s = start.asInstanceOf[CountOffset].n
    val e = end.asInstanceOf[CountOffset].n
    val rows = buffer.synchronized {
      // Clamp to the live buffer: after a restart-from-checkpoint this
      // stream starts empty but Spark replays the last uncommitted batch
      // with checkpointed offsets beyond buffer.size — serve what exists
      // (possibly nothing), log the loss, and let commit() realign.
      val from = math.min(math.max((s - dropped).toInt, 0), buffer.size)
      val to = math.min(math.max((e - dropped).toInt, from), buffer.size)
      if ((e - dropped) > buffer.size) {
        val lost = (e - dropped) - buffer.size
        System.err.println(
          s"GraphiteSource[$name]: offsets [$s,$e) exceed in-memory buffer " +
          s"by $lost line(s) (restart after crash?); serving partial batch")
      }
      import scala.jdk.CollectionConverters._
      buffer.subList(from, to).asScala.toArray
    }
    Array(GraphiteInputPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val rows = partition.asInstanceOf[GraphiteInputPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(rows(i)._1), rows(i)._2)
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[CountOffset].n
    buffer.synchronized {
      val trim = math.min(math.max((e - dropped).toInt, 0), buffer.size)
      if (trim > 0) { buffer.subList(0, trim).clear(); dropped += trim }
    }
  }

  override def stop(): Unit = {
    running.set(false)
    try server.close() catch { case _: Exception => () }
    // close accepted sockets too: reader threads blocked in readLine
    // would otherwise linger (with their connections) until the client
    // next sends or disconnects
    clients.forEach(s => try s.close() catch { case _: Exception => () })
    clients.clear()
  }
}

case class GraphiteInputPartition(rows: Array[(String, Int)]) extends InputPartition
