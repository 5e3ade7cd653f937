package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.jobs.Compaction
import graft.model.MetricStatus
import graft.query.{MetricQuery, QueryParams}
import graft.retention.Retention
import graft.search.MetricSearchOps
import graft.streaming.IngestPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** A store the workloads write and read: paths, the write path and the
  * facade over it.
  */
final class Store(val ctx: Ctx, val dir: String) {
  val dataPath = s"$dir/data"
  val treePath = s"$dir/tree"
  val pipe = new IngestPipeline(dataPath = dataPath, treePath = treePath)
  val graft = new Graft(ctx.spark, dataPath, treePath)

  /** Runs one micro-batch through parse and the dual-sink append.
    * `processBatch` caches its input and parses it once. Traced, that
    * cache is filled (and the parse timed) before the call, which then
    * finds the parsed rows cached, so both runs parse each batch once.
    */
  def ingest(b: Batch): Unit = {
    import ctx.spark.implicits._
    val lines = ctx.spark.createDataset(b.lines)
    val points = ctx.tracer.span("ingest.parse", b.id) {
      val p = pipe.parseBatch(lines, b.updated)
      if (ctx.args.trace) parsed(b.id) = p.cache().count()
      p
    }
    try ctx.tracer.span("streaming.process_batch", b.id)(pipe.processBatch(points, b.id))
    finally if (ctx.args.trace) points.unpersist()
  }

  /** Status writes need strictly increasing stamps: same-second ties
    * resolve arbitrarily.
    */
  def setStatus(pattern: String, status: MetricStatus): Unit =
    graft.setStatus(pattern, status, Store.stamp())

  /** `Graft.compactAuto` with the store's clock instead of the wall clock. */
  def compact(ageDays: Int): Seq[String] =
    new Compaction(Retention.defaultResolver).runAuto(ctx.spark, dataPath, ageDays, Gen.Anchor * 1000L)

  def bytes: Long = Main.bytesUnder(dataPath, treePath)

  /** Rows the parser accepted, per traced batch id. */
  val parsed = new scala.collection.concurrent.TrieMap[Int, Long]

  /** Compaction's staging writes, set aside by [[appends]]. */
  val rewrites = new java.util.concurrent.ConcurrentLinkedQueue[Write]()

  /** The writes recorded since the last call that appended to the data or
    * tree table; compaction rewrites seen on the way go to [[rewrites]].
    */
  def appends(): Seq[Write] = {
    ctx.drain()
    val (staged, rest) = ctx.writes.take().partition(_.path.contains(".compact_tmp_"))
    staged.foreach(rewrites.add)
    rest.filter(w => w.path == dataPath || w.path == treePath)
  }
}

object Store {
  private var last = 0L
  def stamp(): Long = synchronized {
    last = math.max(System.currentTimeMillis() / 1000, last + 1); last
  }
}

/** A served read and its answer, kept for the checks after the run. */
final case class Served(req: Request, ms: Double, cpuMs: Double, answer: Option[Any])

/** The read path: the facade call (untraced), or the facade's own public
  * calls in its order, each a span (traced).
  */
final class Reader(store: Store) {
  private val ctx = store.ctx
  private val spark = ctx.spark
  import spark.implicits._
  private val resolver = Retention.defaultResolver
  /** Requests served so far, and per-request counts from the traced path. */
  val served = mutable.ArrayBuffer.empty[Served]
  val reads = mutable.ArrayBuffer.empty[Reader.Counts]

  def serve(req: Request): Unit = {
    ctx.group(s"read-${req.id}")
    val (t0, c0) = (System.nanoTime(), ctx.cpuNs)
    val answer = ctx.outcomes.attempt(s"${req.kind} request ${req.id}") {
      req.kind match {
        case k if Request.MetricDataKinds(k) =>
          if (ctx.args.trace) tracedMetricData(req)
          else Reader.series(store.graft.metricData(req.patterns, req.start, req.end, -1, Gen.Anchor).collect())
        case "browse" => ctx.tracer.span("search.browse", req.id) {
          store.graft.search(req.patterns.head).collect().map(r => (r.getString(0), r.getString(1))).toSet
        }
        case "cached" => ctx.tracer.span("search.cached", req.id)(store.graft.searchCached(req.patterns.head).toSet)
        case "refresh" => ctx.tracer.span("search.trie_refresh", req.id)(store.graft.refreshSearchCache())
      }
    }
    served += Served(req, Main.millis(t0), (ctx.cpuNs - c0) / 1e6, answer)
  }

  /** `Graft.metricData` as its public parts, in its order. */
  private def tracedMetricData(req: Request): Map[String, Expected.Series] =
    ctx.tracer.span("api.metric_data", req.id) {
      val patterns = req.patterns.distinct
      val exact = patterns.filterNot(graft.names.Glob.hasWildcards)
      val (matched, expand) = ctx.tracer.span("search.expand", req.id) {
        val ds = MetricSearchOps.searchMany(store.graft.tree, patterns).select("name").as[String]
        val names = ds.collect().filterNot(_.endsWith(".")).toSeq
        (names, Scans.of(ds.queryExecution.executedPlan))
      }
      val readable = matched.toSet
      val requested = (matched ++ exact).distinct
      val byFunction = ctx.tracer.span("retention.resolve", req.id) {
        requested.map { n => val r = resolver.resolve(n); (n, r.function, r.stepFor(Gen.Anchor - req.start)) }
          .groupBy(_._2)
      }
      if (byFunction.isEmpty) Map.empty
      else {
        val frame = ctx.tracer.span("query.plan", req.id) {
          byFunction.toSeq.sortBy(_._1).map { case (fn, xs) =>
            val params = QueryParams.create(xs.map(_._3), req.start, req.end, -1, Gen.Anchor)
            val names = xs.map(_._1)
            MetricQuery.metricData(store.graft.data, names.filter(readable), fn, params, requested = names)
          }.reduce(_ unionByName _)
        }
        val rows = ctx.tracer.span("query.exec", req.id)(frame.collect())
        val out = Reader.series(rows)
        reads += Reader.Counts(byFunction.size, expand, matched.size, Scans.of(frame.queryExecution.executedPlan),
          out.valuesIterator.map(_.points.count(_.isDefined).toLong).sum)
        out
      }
    }
}

object Reader {
  /** What one traced `metricData` read: function groups, the tree scan
    * and its matches, the data scan and the non-null points returned.
    */
  final case class Counts(groups: Int, expand: Scans.Read, matches: Int, data: Scans.Read, points: Long)

  def series(rows: Array[Row]): Map[String, Expected.Series] = rows.map { r =>
    r.getString(0) -> Expected.Series(r.getInt(1), r.getInt(2), r.getInt(3),
      r.getSeq[Any](4).map {
        case null => None
        case d: Double => Some(d)
        case x => throw new IllegalStateException(s"unexpected point $x")
      }.toIndexedSeq)
  }.toMap
}

/** What a timed phase did, for the per-layer report. */
final case class Phase(store: Store, opMs: Seq[Double], wallS: Double, spark: Seq[Metric],
                       batches: Seq[Batch] = Nil, batchWrites: Seq[Seq[Write]] = Nil,
                       banned: String => Boolean = _ => false, reads: Seq[Reader.Counts] = Nil,
                       served: Seq[Served] = Nil,
                       compactMs: Double = 0, rewritten: Int = 0)

object Workloads {
  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Tree nodes a set of metrics creates: each name and its ancestor dirs. */
  def nodes(metrics: Iterable[String]): Set[String] = metrics.iterator.flatMap { m =>
    val parts = m.split('.')
    (1 until parts.length).map(i => parts.take(i).mkString(".") + ".") :+ m
  }.toSet

  /** Every per-layer metric; a layer the phase did not call reads 0. */
  def layers(ctx: Ctx, p: Phase): Seq[Metric] = {
    val ids = p.batches.map(_.id.toLong).toSet
    def batchSpans(n: String) = ctx.tracer.named(n).filter(s => ids(s.request)).map(_.ms)
    def ms(n: String) = median(ctx.tracer.named(n).map(_.ms))
    val batchGroups = p.batches.map(b => ctx.counters.group(s"batch-${b.id}"))
    val data = p.batchWrites.map(_.filter(_.path == p.store.dataPath))
    val tree = p.batchWrites.map(_.filter(_.path == p.store.treePath))
    val written = (data ++ tree).flatten
    val points = p.batches.map(_.accepted(p.banned).size).sum.toDouble
    val nBatches = p.batches.size.toDouble
    val reads = p.reads
    val readGroups = p.served.filter(_.req.isMetricData).map(s => ctx.counters.group(s"read-${s.req.id}"))
    val apiSpans = ctx.tracer.named("api.metric_data")
    val rewrites = p.store.rewrites.asScala.toSeq
    Seq(
      Metric("ingest.parse_ms", median(batchSpans("ingest.parse")), "ms"),
      Metric("ingest.accept_ratio", ratio(p.batches.flatMap(b => p.store.parsed.get(b.id)).sum.toDouble,
        p.batches.map(_.lines.size).sum), "ratio"),
      Metric("streaming.batch_ms", median(batchSpans("streaming.process_batch")), "ms"),
      Metric("streaming.data_append_ms", median(data.map(_.map(_.ms).sum)), "ms"),
      Metric("streaming.tree_append_ms", median(tree.map(_.map(_.ms).sum)), "ms"),
      Metric("streaming.jobs_per_batch", mean(batchGroups.map(_.jobs.get.toDouble)), "count"),
      Metric("streaming.stages_per_batch", mean(batchGroups.map(_.stages.get.toDouble)), "count"),
      Metric("streaming.input_bytes_per_batch", mean(batchGroups.map(_.inputBytes.get.toDouble)), "B"),
      Metric("streaming.shuffle_bytes_per_batch", mean(batchGroups.map(_.shuffleBytes.get.toDouble)), "B"),
      Metric("streaming.files_written_per_batch", ratio(written.map(_.files).sum.toDouble, nBatches), "count"),
      Metric("streaming.bytes_written_per_point", ratio(written.map(_.bytes).sum.toDouble, points), "B"),
      Metric("streaming.tree_rows_appended_per_batch", ratio(tree.flatten.map(_.rows).sum.toDouble, nBatches), "count"),
      Metric("streaming.points_per_s", ratio(points, p.wallS), "1/s"),
      Metric("search.expand_ms", ms("search.expand"), "ms"),
      Metric("search.rows_read_per_match", ratio(reads.map(_.expand.rows).sum.toDouble, reads.map(_.matches).sum), "ratio"),
      Metric("search.browse_ms", ms("search.browse"), "ms"),
      Metric("search.cached_us", ms("search.cached") * 1000, "us"),
      Metric("search.trie_refresh_ms", ms("search.trie_refresh"), "ms"),
      Metric("retention.resolve_ms_per_request", ms("retention.resolve"), "ms"),
      Metric("query.plan_ms", ms("query.plan"), "ms"),
      Metric("query.exec_ms", ms("query.exec"), "ms"),
      Metric("query.groups_per_request", mean(reads.map(_.groups.toDouble)), "count"),
      Metric("query.jobs_per_request", mean(readGroups.map(_.jobs.get.toDouble)), "count"),
      Metric("query.files_read_per_request", mean(reads.map(_.data.files.toDouble)), "count"),
      Metric("query.bytes_read_per_request", mean(reads.map(_.data.bytes.toDouble)), "B"),
      Metric("query.rows_read_per_point", ratio(reads.map(_.data.rows).sum.toDouble, reads.map(_.points).sum), "ratio"),
      Metric("query.shuffle_bytes_per_request", mean(readGroups.map(_.shuffleBytes.get.toDouble)), "B"),
      Metric("jobs.compact_ms", p.compactMs, "ms"),
      Metric("jobs.partitions_rewritten", p.rewritten, "count"),
      Metric("jobs.bytes_rewritten", rewrites.map(_.bytes).sum.toDouble, "B"),
      Metric("jobs.rows_in_per_row_out", ratio(ctx.counters.group("compact").inputRecords.get.toDouble,
        rewrites.map(_.rows).sum), "ratio"),
      Metric("api.self_ms", median(apiSpans.map(ctx.tracer.selfMs)), "ms"),
      Metric("trace.op_p50_ms", median(p.opMs), "ms")) ++ p.spark
  }

  /** Set-ups per run; `setup_s` is their median. The first runs in a
    * cold JVM, so it also carries the JIT warm-up.
    */
  val SetUps = 2

  // ---------------------------------------------------------------- ingest

  val IngestSizes = IngestSize(treeNames = 30000, hotNames = 2000, batchLines = 10000, batches = 20)

  /** The timed phase runs `--seconds / SecondsPerBatch` batches, about
    * `--seconds` of work on the commit that added the benchmark (a batch
    * took 3-4 s). The count does not depend on the program's speed, so
    * every run of a given length writes the same points. The phase stops
    * early only past `SlowCap` times `--seconds`.
    */
  val SecondsPerBatch = 3
  val SlowCap = 3

  def ingest(ctx: Ctx): Report = {
    val gen = new IngestGen(ctx.args.seed, IngestSizes)
    val (store, setupS) = ctx.setUp(SetUps) { dir =>
      val s = new Store(ctx, dir)
      gen.setupBatches.foreach(s.ingest)
      s.setStatus(gen.BannedDir, MetricStatus.Ban)
      s.graft.refreshSearchCache()
      s
    }
    val seconds = ctx.args.seconds
    val timedBatches = (seconds / SecondsPerBatch).max(1).min(gen.batches.size)
    val batchMs, batchCpuMs = mutable.ArrayBuffer.empty[Double]
    val done = mutable.ArrayBuffer.empty[Batch]
    val batchWrites = mutable.ArrayBuffer.empty[Seq[Write]]
    ctx.startTimed()
    val t0 = System.nanoTime()
    while (done.size < timedBatches && Main.millis(t0) < SlowCap * seconds * 1000.0) {
      val b = gen.batches(done.size)
      ctx.group(s"batch-${b.id}")
      val (b0, c0) = (System.nanoTime(), ctx.cpuNs)
      ctx.outcomes.attempt(s"batch ${b.id}")(store.ingest(b))
      batchMs += Main.millis(b0)
      batchCpuMs += (ctx.cpuNs - c0) / 1e6
      done += b
      batchWrites += store.appends()
    }
    val wallS = Main.millis(t0) / 1000
    val spark = ctx.endTimed()

    // after the timed phase, the tree's other writers: a name is banned,
    // then the trie refreshed and a cached browse must show the ban; and
    // one compaction of the partitions older than a day (the late points')
    val banned = gen.flips.head
    ctx.group("status")
    ctx.outcomes.attempt(s"status $banned") {
      store.setStatus(banned, MetricStatus.Ban)
      ctx.tracer.span("search.trie_refresh", -1)(store.graft.refreshSearchCache())
      val seen = ctx.tracer.span("search.cached", -1)(store.graft.searchCached("one_min.flip.*"))
      if (seen.exists(_._1 == banned) || seen.size != gen.flips.size - 1)
        ctx.outcomes.wrong(s"cached browse after banning $banned", s"${seen.size} flips visible, expected ${gen.flips.size - 1}")
    }
    ctx.group("compact")
    val c0 = System.nanoTime()
    val rewritten = ctx.outcomes.attempt("compaction")(ctx.tracer.span("jobs.compact", 0)(store.compact(1)))
      .map(_.size).getOrElse(0)
    val compactMs = Main.millis(c0)
    store.appends()
    ctx.group("check")

    // set-up lines all land: the ban comes after them
    val accepted = gen.setupBatches.flatMap(_.accepted(_ => false)) ++ done.flatMap(_.accepted(gen.isBanned))
    val timedPoints = done.map(_.accepted(gen.isBanned).size).sum
    val graft = store.graft

    // outputs: deduped rows (compaction dedups on the minute the late
    // points sit on), visible tree, nothing new under the banned dir
    ctx.outcomes.check("deduped row count") {
      val want = accepted.distinct.size.toLong
      val got = graft.data.select("metric", "timestamp").distinct().count()
      if (got == want) None else Some(s"$got rows, expected $want")
    }
    ctx.outcomes.check("visible tree") {
      val want = (nodes(accepted.map(_._1)) - (gen.BannedDir + ".") - banned).size.toLong
      val got = graft.currentTree.filter(MetricSearchOps.visibleCol(col("status"))).count()
      if (got == want) None else Some(s"$got visible nodes, expected $want")
    }
    ctx.outcomes.check("banned subtree") {
      val got = graft.data.filter(col("metric").startsWith(gen.BannedDir + ".")).count()
      if (got == gen.bannedSetup.size) None
      else Some(s"$got points under ${gen.BannedDir}, expected the ${gen.bannedSetup.size} written before the ban")
    }

    val notes = Seq(
      s"workload ingest: tree ${IngestSizes.treeNames} names, hot set ${IngestSizes.hotNames}, " +
        s"${IngestSizes.batchLines} lines per batch, ${done.size} of $timedBatches batches in ${"%.1f".format(wallS)} s; " +
        f"then compaction $compactMs%.0f ms",
      Main.tailNote("batch_ms", batchMs.toSeq, "ms"),
      batchMs.map(x => "%.0f".format(x)).mkString("batch_ms each: ", " ", ""))
    if (!ctx.args.trace) Report(Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(batchMs.toSeq), "ms"),
      Metric("op_rate_per_s", timedPoints / wallS, "1/s"),
      Metric("op_cpu_ms", Stats.median(batchCpuMs.toSeq), "ms"),
      Metric("store_bytes_per_point", store.bytes.toDouble / accepted.size, "B")), notes)
    else Report(layers(ctx, Phase(store, batchMs.toSeq, wallS, spark, done.toSeq, batchWrites.toSeq,
      gen.isBanned, compactMs = compactMs, rewritten = rewritten)), notes)
  }

  // ------------------------------------------------------------- dashboard

  val StoreSizes = StoreSize(services = 8, hosts = 4, fiveMinServices = 2, coldGroups = 8,
    coldPerGroup = 500, banned = 16, windowMinutes = 60)

  /** Builds the read store through the public write path: the setup
    * batches, the bans, compaction of the partitions older than 7 days,
    * and the serving trie.
    */
  private def buildStore(ctx: Ctx, gen: StoreGen)(dir: String): Store = {
    val s = new Store(ctx, dir)
    gen.setupBatches.foreach(s.ingest)
    s.setStatus("one_min.banned.*", MetricStatus.Ban)
    s.compact(7)
    s.graft.refreshSearchCache()
    s
  }

  /** Untimed reads first: exact, browse, glob, exact at 4 days. */
  val WarmUpReads = 4

  def dashboard(ctx: Ctx): Report = {
    val gen = new StoreGen(ctx.args.seed, StoreSizes)
    val requests = gen.requests(5000)
    val (store, setupS) = ctx.setUp(SetUps)(buildStore(ctx, gen))
    val reader = new Reader(store)
    // the read path's plans compile on first use: the first requests of
    // the stream run (and are checked) before the timed phase
    requests.take(WarmUpReads).foreach(reader.serve)
    reader.reads.clear()
    ctx.startTimed()
    val t0 = System.nanoTime()
    while (Main.millis(t0) < ctx.args.seconds * 1000.0 && reader.served.size < requests.size)
      reader.serve(requests(reader.served.size))
    val wallS = Main.millis(t0) / 1000
    val spark = ctx.endTimed()
    val served = reader.served.toSeq
    val timed = served.drop(WarmUpReads)

    // every answer against the generator's model
    val visibleMetrics = gen.metrics.filterNot(gen.banned.toSet)
    val visibleNodes = nodes(visibleMetrics)
    served.foreach { s =>
      val what = s"${s.req.kind} request ${s.req.id} ${s.req.patterns.mkString(",")}"
      val problem: Option[String] = (s.req.kind, s.answer) match {
        case (_, None) => None // counted when it threw
        case (k, Some(a: Map[_, _])) if Request.MetricDataKinds(k) =>
          val want = Expected.metricData(s.req.patterns, s.req.start, s.req.end, Gen.Anchor,
            visibleMetrics, gen.model.get)
          Expected.diff(want, a.asInstanceOf[Map[String, Expected.Series]])
        case ("browse" | "cached", Some(a: Set[_])) =>
          val want = visibleNodes.filter(n => Expected.globMatches(s.req.patterns.head, n)).map(_ -> "SIMPLE")
          if (a == want) None else Some(s"${a.size} nodes, expected ${want.size}")
        case ("refresh", Some(_)) => None
        case (k, a) => Some(s"unexpected answer for $k: $a")
      }
      problem.foreach(ctx.outcomes.wrong(what, _))
    }
    // traced reads are the facade's parts: one read of each kind must
    // also equal the facade's own answer
    if (ctx.args.trace) served.filter(_.req.isMetricData).groupBy(_.req.kind).values.map(_.head).foreach { s =>
      ctx.outcomes.check(s"facade agrees on ${s.req.kind} request ${s.req.id}") {
        val facade = Reader.series(store.graft.metricData(s.req.patterns, s.req.start, s.req.end, -1, Gen.Anchor).collect())
        s.answer.flatMap(a => Expected.diff(facade, a.asInstanceOf[Map[String, Expected.Series]]))
      }
    }

    val mdMs = timed.filter(_.req.isMetricData).map(_.ms)
    val notes = Seq(
      s"workload dashboard: ${gen.hot.size + gen.hotFive.size} hot series, ${gen.metrics.size} metrics, " +
        s"${timed.size} requests in ${"%.1f".format(wallS)} s after $WarmUpReads warm-up requests",
      Main.tailNote("metric_data_ms", mdMs, "ms"),
      Main.tailNote("browse_ms", timed.filter(_.req.kind == "browse").map(_.ms), "ms"),
      timed.map(x => f"${x.req.kind}:${x.ms}%.0f").mkString("each: ", " ", ""))
    if (!ctx.args.trace) Report(Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(mdMs), "ms"),
      Metric("op_rate_per_s", timed.size / wallS, "1/s"),
      Metric("op_cpu_ms", Stats.median(timed.filter(_.req.isMetricData).map(_.cpuMs)), "ms"),
      Metric("store_bytes_per_point", store.bytes.toDouble / gen.setupBatches.map(_.lines.size).sum, "B")), notes)
    else Report(layers(ctx, Phase(store, mdMs, wallS, spark, reads = reader.reads.toSeq, served = timed)), notes)
  }
}
