package graft
object Bench {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty, "Bench times every query; time named ones with graft.Dev run")
    val sfDir = LocalSession.sfDir
    // samples per query; medians are reported. 3 by default — enough to
    // reject one bad sample (GC pause, JIT recompile) per query, which is
    // exactly the failure mode a single-sample record could not arbitrate
    // (round-5 record showed 4 "regressions" >=2x on unchanged code).
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    val spark = LocalSession.create()
    // benchOnlyQueries ride along: no oracle row, but their timings are
    // the record for the codedKeys shuffle-mode claims
    val ordered = (SparkEntry.queries ++ SparkEntry.benchOnlyQueries).toSeq.sortBy(_._1)
    // A query that throws is recorded here and never timed: a caught
    // failure must not read as a fast query. The bench exits non-zero
    // when this is not empty.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def attempt(name: String)(body: => Unit): Unit =
      if (!failed(name)) try body catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
      }
    // Warm-up pass: run every query once untimed so the timed passes
    // measure steady-state execution — what a long-running service
    // delivers — instead of charging each query its one-off Janino
    // codegen compilation and JIT warm-up (~2 s per complex plan).
    // toRdd.count(), not count(): count() lets Catalyst prune the
    // projected columns, which would time a plan that skips the very
    // output work (similarities, rounded series, redactions) the query
    // exists to produce. toRdd materializes every output column — what
    // a real consumer (parquet sink, API layer) pays.
    ordered.foreach { case (name, fn) =>
      attempt(name)(fn(spark, sfDir).queryExecution.toRdd.count())
    }
    def med(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Calibration probe: a fixed-size shuffle+sort whose plan never
    // changes round over round. Different machines / ambient load scale
    // every query by roughly the same factor (round-6 saw a uniform
    // ~1.4x driver-vs-local offset); recording the probe with every run
    // lets two records be compared NORMALIZED (t / calibration_sec)
    // instead of re-litigating absolute times per query.
    def calibrationOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(4000000L)
        .select(((col("id") * 2654435761L) % 1000003L).as("k"))
        .groupBy("k").count()
        .orderBy(desc("count"), col("k")).limit(100)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // Second, COMPUTE-BOUND probe: a fixed codegen arithmetic fold with
    // one partial aggregate and no shuffle. Two sessions (r8's 1.27
    // shuffle-probe outlier; r9's driver replay where the shuffle probe
    // moved OPPOSITE to compute-bound queries) showed the shuffle probe
    // under-tracks compute drift — record both, quote the one matching
    // the workload under comparison (most of the suite is codegen-bound,
    // so cal_compute is usually the honest normalizer; cal_shuffle
    // tracks exchange-heavy drift).
    def calComputeOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(64000000L)
        .select(sum(((col("id") * 2654435761L) % 1000003L)
          * ((col("id") * 97L) % 89L)).as("s"))
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationOnce() // warm-up, same policy as the queries
    calComputeOnce()
    // Timed passes, INTERLEAVED (pass 1 over all queries, then pass 2, ...)
    // rather than back-to-back per query: back-to-back samples share the
    // same transient heap/GC state left by the previous query, so a pause
    // poisons all three; interleaving samples each query at three distant
    // points in the JVM's lifecycle, which is what the median must reject.
    // The calibration probe rides in each pass under the same policy.
    val timings = scala.collection.mutable.Map[String, Vector[Double]]()
    val calib = scala.collection.mutable.ArrayBuffer[Double]()
    val calibC = scala.collection.mutable.ArrayBuffer[Double]()
    (1 to samples).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        attempt(name) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          timings(name) = timings.getOrElse(name, Vector.empty) :+ dt
        }
      }
      calib += calibrationOnce()
      calibC += calComputeOnce()
    }
    // a query that failed in a later pass keeps no timing at all
    val timed = timings.toMap -- failed
    val results = timed.map { case (k, v) => k -> med(v) }
    val spreads = timed.map { case (k, v) => k -> (v.max - v.min) }
    val calibrationSec = med(calib.toVector)
    val calComputeSec = med(calibC.toVector)
    def jmap(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
    // headline total counts ORACLE queries only: the bench-only twins
    // (q76b/q93b) duplicate their originals' work, and folding them in
    // would skew round-over-round total comparisons
    val benchOnlyNames = SparkEntry.benchOnlyQueries.keySet
    val total = results.filterNot(kv => benchOnlyNames(kv._1)).values.sum
    // ingest throughput, two tiers (reference design envelope: >=200k
    // points/s for the FULL write path, BASELINE.md):
    //  - parse+validate only (the hot boundary, core-count-sensitive)
    //  - end-to-end processBatch: parse -> date-partitioned data append
    //    -> tree upsert (one status lookup of the batch's names and their
    //    dirs, new nodes decided on the driver) — the number that
    //    actually faces the reference's envelope. Median-of-`samples`
    //    batches against a seeded on-disk tree (batch 0 creates it and
    //    is excluded: first-batch tree creation is a one-off).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 2000000L
    val lines = spark.range(n).select(concat(
      lit("one_min.app.host"), col("id") % 100, lit(".metric"), col("id") % 200,
      lit(".requests "),
      (col("id") % 1000).cast("string"), lit(" "),
      (lit(1700000000L) + col("id") % 86400).cast("string")).as("line")).as[String]
    val parsePipe = new graft.streaming.IngestPipeline(dataPath = "/tmp/x", treePath = "/tmp/y")
    // a failing tier reads 0 and is named in `failed`
    var ingestRate, e2eRate = 0L
    attempt("ingest_points_per_sec") {
      parsePipe.parseBatch(lines, 1700000000).queryExecution.toRdd.count() // warm-up
      val rates = (1 to samples).map { _ =>
        val t0 = System.nanoTime()
        val parsed = parsePipe.parseBatch(lines, 1700000000).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        require(parsed == n, s"parsed $parsed of $n lines")
        n / dt
      }.toVector
      ingestRate = med(rates).toLong
    }
    attempt("ingest_e2e_points_per_sec") {
      val base = java.nio.file.Files.createTempDirectory("graft_bench_ingest").toString
      val pipe = new graft.streaming.IngestPipeline(
        dataPath = s"$base/data", treePath = s"$base/tree")
      // batch size models a 10 s micro-batch trigger at the reference's
      // sustained envelope (200k/s × 10 s = 2M points): per-batch fixed
      // overhead (tree read, parquet commit) amortizes over exactly the
      // traffic a real trigger interval would carry. Overridable for
      // profiling the fixed-cost floor.
      val nE2e = sys.env.getOrElse("SPARK_GRAFT_E2E_N", "2000000").toLong
      val e2eLines = spark.range(nE2e).select(concat(
        lit("one_min.app.host"), col("id") % 100, lit(".metric"), col("id") % 200,
        lit(".requests "),
        (col("id") % 1000).cast("string"), lit(" "),
        (lit(1700000000L) + col("id") % 86400).cast("string")).as("line")).as[String]
      pipe.processBatch(pipe.parseBatch(e2eLines, 1700000000), 0L) // seeds the tree
      val rates = (1 to samples).map { i =>
        val t0 = System.nanoTime()
        pipe.processBatch(pipe.parseBatch(e2eLines, 1700000000 + i), i.toLong)
        val dt = (System.nanoTime() - t0) / 1e9
        nE2e / dt
      }.toVector
      // best-effort cleanup; the record matters, the temp dir doesn't
      try {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(base)).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
      e2eRate = med(rates).toLong
    }
    // stdout line: SHORT query keys ("q106" for "q106_image_hash_dedup",
    // "q76b" for its bench twin) and no spread dict, so the whole line
    // fits the driver's 2 kB tail capture and parses (BENCH_r04/r05/r06
    // all recorded parsed:null because the full-name line was truncated
    // mid-dict). The FILE record below keeps full names + spread.
    val shortKey = "^(q\\d+[a-z]?)_.*$".r
    def short(k: String) = k match { case shortKey(p) => p; case other => other }
    val shortResults = results.map { case (k, v) => short(k) -> v }
    def num(v: Double) = f"$v%.4f"
    // env-sourced strings (paths) ride into the JSON lines that exist to
    // ALWAYS parse — escape them, or a quote/backslash in a path breaks
    // the driver's tail-capture parse (the exact failure this line fixes)
    def jstr(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // calibration-normalized totals ride in every record: two records
    // from drifted environments compare directly on cal_norm_total
    // (time ÷ probe) with no manual probe arithmetic (the r8 session
    // drifted 0.50 → 1.27 on the same machine; raw totals across that
    // divide mislead)
    val calNorm = if (calibrationSec > 0) 1.0 / calibrationSec else 0.0
    val calNormC = if (calComputeSec > 0) 1.0 / calComputeSec else 0.0
    // calibration_sec / cal_norm_total keep their r8 meanings (shuffle
    // probe) so records stay comparable across rounds; the compute probe
    // rides alongside as cal_compute_sec / cal_norm_compute_total
    def jlist(names: Seq[String]) = names.map(n => "\"" + jstr(n) + "\"").mkString("[", ",", "]")
    // stdout lists at most 30 short names, so the last line stays < 2 kB
    // however many queries fail; the file record lists them all
    val failedShort = failed.toSeq.map(short) match {
      case f if f.size > 30 => f.take(30) :+ s"+${f.size - 30} more"
      case f => f
    }
    val common =
      s""""unit":"sec","samples":$samples,"calibration_sec":${num(calibrationSec)},"cal_compute_sec":${num(calComputeSec)},"cal_norm_total":${num(total * calNorm)},"cal_norm_compute_total":${num(total * calNormC)},"ingest_points_per_sec":$ingestRate,"ingest_e2e_points_per_sec":$e2eRate,"timing":"warm-median","sf":"${jstr(sfDir)}""""
    val stdoutJson =
      s"""{"metric":"total","value":${num(total)},$common,"key_style":"short","failed":${jlist(failedShort)},"queries":${jmap(shortResults)}}"""
    println(stdoutJson)
    // LAST line = a short, complete summary JSON. The driver records the
    // final 2 kB of stdout: the full-dict line above is ~4 kB, so its
    // head (metric/total/ingest) always fell off the capture and the
    // driver recorded parsed:null (r6 AND r7). This line carries the
    // totals plus only the 20 most expensive queries, total length
    // < 1 kB — it sits whole inside any 2 kB tail.
    val top20 = results.toSeq.sortBy(-_._2).take(20).map { case (k, v) => short(k) -> v }.toMap
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    println(
      s"""{"metric":"total","value":${num(total)},$common,"key_style":"short","queries_shown":"top20_of_${results.size}","full_record":"${jstr(out)}","failed":${jlist(failedShort)},"queries":${jmap(top20)}}""")
    // the complete, parseable copy: full query names, spread dict. stdout
    // rides through sbt's log pipeline, which truncates long lines.
    val fileJson =
      s"""{"metric":"total","value":${num(total)},$common,"key_style":"full","failed":${jlist(failed.toSeq)},"queries":${jmap(results)},"cal_norm_queries":${jmap(results.map { case (k, v) => k -> v * calNorm })},"spread":${jmap(spreads)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (fileJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // never fail the bench over the copy
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
