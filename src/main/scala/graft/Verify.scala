package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDirArg) = args
    val spark = LocalSession.create()
    // local iteration aid: SPARK_GRAFT_ONLY=q264,q265 runs only queries
    // whose name starts with a listed prefix (the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // a PARTIAL run writes to a SUFFIXED dir and announces itself
    // loudly: partial parquet + a filtered oracle_sql.json layered over
    // a previously-full outDir would mix artifacts from different code
    // versions, and a leaked env var would silently shrink a gate run
    // while looking green
    val outDir = if (only.isDefined) {
      System.err.println("=" * 72)
      System.err.println(s"[verify] *** PARTIAL RUN (SPARK_GRAFT_ONLY=" +
        s"${sys.env("SPARK_GRAFT_ONLY")}) -- NOT a gate run ***")
      System.err.println(s"[verify] *** artifacts -> $outDirArg-partial ***")
      System.err.println("=" * 72)
      outDirArg + "-partial"
    } else outDirArg
    new java.io.File(outDir).mkdirs()
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // a query's old dump goes before it runs: a query that fails now
    // must leave no parquet for the oracle check to pass on
    val failed = SparkEntry.queries.filter(kv => selected(kv._1)).flatMap { case (name, fn) =>
      val dump = Paths.get(s"$outDir/$name")
      if (Files.exists(dump)) Dev.deleteTree(dump)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(dump.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toSeq.sorted
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    spark.stop()
  }
}
