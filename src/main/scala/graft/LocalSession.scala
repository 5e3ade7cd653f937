package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder behind Bench, Verify and Dev, so a plan
  * dumped or timed by Dev is the plan Bench times and Verify checks.
  *
  * Environment: `SPARK_GRAFT_CPUS` (default 4) sets `local[cpus]` and the
  * shuffle partition count; `SPARK_GRAFT_SF_DIR` (default sf0.1) is the
  * corpus Bench and Dev read.
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the suite compiles 300 distinct plans several times (warm-up +
      // timed passes), each producing several generated classes (one per
      // codegen stage); the default 100-entry generated-class cache would
      // evict across a pass and recompile
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
