package graft

import graft.streaming.GraphiteServerRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom TCP micro-batch source: real socket in, receive-stamped lines
  * out, offsets commit and trim.
  */
class GraphiteSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("lines pushed over TCP arrive as micro-batch rows") {
    val serverName = s"test-${System.nanoTime()}"
    val stream = spark.readStream
      .format("graft.streaming.GraphiteSourceProvider")
      .option("port", "0")
      .option("name", serverName)
      .load()
    assert(stream.schema.fieldNames.toSeq == Seq("line", "updated"))

    val dir = java.nio.file.Files.createTempDirectory("graft_tcp").toString
    val q = stream.writeStream
      .format("memory")
      .queryName(s"tcp_out_${serverName.replace("-", "_")}")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // wait for the server socket to come up, then push lines
      var port = 0
      val deadline = System.currentTimeMillis() + 10000
      while (port == 0 && System.currentTimeMillis() < deadline) {
        GraphiteServerRegistry.boundPort(serverName).foreach(p => port = p)
        Thread.sleep(50)
      }
      assert(port > 0, "server did not bind")
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("one_min.app.host1.requests 12.0 1542199560")
      out.println("one_min.app.host2.requests 7.5 1542199620")
      out.flush()
      sock.close()
      // lines land in the buffer asynchronously; poll until visible
      val deadline2 = System.currentTimeMillis() + 15000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline2) {
        q.processAllAvailable()
        n = spark.table(s"tcp_out_${serverName.replace("-", "_")}").count()
        if (n < 2) Thread.sleep(100)
      }
      assert(n == 2, s"expected 2 rows, got $n")
      val rows = spark.table(s"tcp_out_${serverName.replace("-", "_")}")
        .select("line", "updated").collect()
      assert(rows.map(_.getString(0)).toSet == Set(
        "one_min.app.host1.requests 12.0 1542199560",
        "one_min.app.host2.requests 7.5 1542199620"))
      assert(rows.forall(_.getInt(1) > 1700000000), "receive-timestamped")
    } finally q.stop()
  }

  test("restart from checkpoint offsets beyond the live buffer realigns instead of crashing") {
    import graft.streaming.{CountOffset, GraphiteMicroBatchStream}
    // fresh stream (empty buffer, dropped=0) handed a checkpointed offset
    // of 40: the replayed batch [25, 40) must serve empty, not throw
    val s = new GraphiteMicroBatchStream(0, s"restart-${System.nanoTime()}")
    try {
      val start = s.deserializeOffset("25")
      val end = s.deserializeOffset("40")
      val parts = s.planInputPartitions(start, end)
      val reader = s.createReaderFactory().createReader(parts.head)
      assert(!reader.next(), "replayed batch after data loss must be empty")
      s.commit(end)
      // post-restart offsets resume at the checkpoint, not at zero
      assert(s.latestOffset().asInstanceOf[CountOffset].n == 40)
    } finally s.stop()
  }

  test("TCP ingest pipeline resumes from checkpoint across a restart") {
    import graft.streaming.IngestPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp_restart").toString
    val pipe = new IngestPipeline(dataPath = s"$dir/data", treePath = s"$dir/tree")
    def start(name: String) = {
      val lines = spark.readStream
        .format("graft.streaming.GraphiteSourceProvider")
        .option("port", "0").option("name", name).load()
      pipe.startStamped(lines, s"$dir/ckpt")
    }
    def push(name: String, ls: String*): Unit = {
      var port = 0
      val deadline = System.currentTimeMillis() + 10000
      while (port == 0 && System.currentTimeMillis() < deadline) {
        GraphiteServerRegistry.boundPort(name).foreach(p => port = p)
        Thread.sleep(50)
      }
      assert(port > 0, s"$name did not bind")
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      ls.foreach(out.println); out.flush(); sock.close()
    }
    def dataCount(): Long =
      try spark.read.parquet(s"$dir/data").count() catch { case _: Exception => 0L }
    def awaitCount(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while (dataCount() < n && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(dataCount() == n, s"expected $n rows, got ${dataCount()}")
    }

    val n1 = s"restart-a-${System.nanoTime()}"
    val q1 = start(n1)
    try { push(n1, "one_min.a.b 1.0 1542199560", "one_min.a.c 2.0 1542199570"); awaitCount(q1, 2) }
    finally q1.stop()
    // second incarnation: fresh source instance, same checkpoint — must
    // resume (possibly replaying an empty batch) instead of crash-looping
    val n2 = s"restart-b-${System.nanoTime()}"
    val q2 = start(n2)
    try {
      push(n2, "one_min.a.d 3.0 1542199580")
      awaitCount(q2, 3)
      assert(q2.exception.isEmpty, s"restarted query failed: ${q2.exception}")
    } finally q2.stop()
  }

  test("buffer capacity bounds memory; overflow lines counted as drops") {
    import graft.streaming.{CountOffset, GraphiteMicroBatchStream}
    val name = s"cap-${System.nanoTime()}"
    val s = new GraphiteMicroBatchStream(0, name, capacity = 3)
    try {
      val port = GraphiteServerRegistry.boundPort(name).get
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 10).foreach(i => out.println(s"a.b.c $i 1542199560"))
      out.flush(); sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (GraphiteServerRegistry.droppedLines(name) < 7 &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(s.latestOffset().asInstanceOf[CountOffset].n == 3, "buffer capped at capacity")
      assert(GraphiteServerRegistry.droppedLines(name) == 7, "rejected lines accounted")
    } finally s.stop()
  }

  test("over-long lines are dropped and counted; a split line arrives whole") {
    import graft.streaming.{CountOffset, GraphiteMicroBatchStream, GraphiteSource}
    val name = s"long-${System.nanoTime()}"
    val s = new GraphiteMicroBatchStream(0, name)
    try {
      val port = GraphiteServerRegistry.boundPort(name).get
      val sock = new java.net.Socket("127.0.0.1", port)
      val out = sock.getOutputStream
      def send(x: String): Unit = { out.write(x.getBytes("UTF-8")); out.flush() }
      // a line with no newline past the bound, then its newline: dropped
      send("a" * (GraphiteSource.MaxLineBytes + 1))
      send("bbbb\r\n")
      // one line in two socket writes, the second after a pause
      send("one_min.a.b 1.0 ")
      Thread.sleep(200)
      send("1542199560\r\n")
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (s.latestOffset().asInstanceOf[CountOffset].n < 1 &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      val part = s.planInputPartitions(CountOffset(0), s.latestOffset())
      val reader = s.createReaderFactory().createReader(part.head)
      val lines = Iterator.continually(reader.next()).takeWhile(identity)
        .map(_ => reader.get().getUTF8String(0).toString).toList
      assert(lines === List("one_min.a.b 1.0 1542199560"))
      assert(GraphiteServerRegistry.droppedLines(name) === 1L)
    } finally s.stop()
  }

  test("BoundedLineReader: lines in any chunking, over-long ones counted") {
    import graft.streaming.BoundedLineReader
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val max = 16
    // arbitrary bytes (malformed UTF-8 included) minus the terminators
    val lineGen = Gen.choose(0, 2 * max).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue).suchThat(b => b != '\n' && b != '\r')))
    val gen = for {
      lines <- Gen.listOf(lineGen)
      ends <- Gen.listOfN(lines.size, Gen.oneOf("\n", "\r\n"))
      chunk <- Gen.choose(1, 40)
    } yield (lines.map(_.toArray), ends, chunk)
    val prop = Prop.forAll(gen) { case (lines, ends, chunk) =>
      val bytes = lines.zip(ends).flatMap { case (l, e) => l ++ e.getBytes("UTF-8") }.toArray
      // a stream that hands out at most `chunk` bytes per read
      val in = new java.io.ByteArrayInputStream(bytes) {
        override def read(b: Array[Byte], off: Int, len: Int): Int = super.read(b, off, math.min(len, chunk))
      }
      var discarded = 0
      val r = new BoundedLineReader(in, max, () => discarded += 1)
      val got = Iterator.continually(r.readLine()).takeWhile(_ != null).toList
      got == lines.filter(_.length <= max).map(l => new String(l, "UTF-8")) &&
        discarded == lines.count(_.length > max)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.toString)
    // readLine's other terminator: a bare CR; and an unterminated last line
    val r = new BoundedLineReader(new java.io.ByteArrayInputStream("a\rb\r\n\nc".getBytes("UTF-8")), max, () => ())
    assert(Iterator.continually(r.readLine()).takeWhile(_ != null).toList === List("a", "b", "", "c"))
  }
}
