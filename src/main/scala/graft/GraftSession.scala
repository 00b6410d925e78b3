package graft
import org.apache.spark.sql.SparkSession

/** The one owner of the engine's session configuration. Every main
  * (Bench, Verify, VerifyOne, ScaleGen, StatsProbe) and the test suite
  * build their session here, so the graded run, the spot checks and the
  * specs all run the shipped configuration.
  *
  * Session confs live in [[confs]]. A JVM-wide static is a launch option
  * instead: build.sbt's `javaOptions`, which every `sbt run` main, the
  * forked test suite and the benchmark harness start with. Spark reads
  * such a value once per JVM, whatever session asks first, so a conf here
  * would not reach a JVM whose first session is built elsewhere. The one
  * such setting is `spark.sql.codegen.cache.maxEntries`, the size of the
  * compiled-class cache (see build.sbt for the measured working set).
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** AQE coalescing floor. AQE sizes partitions by BYTES; several
    * operators here are compute-dense over byte-small shuffles (7-row
    * rolling-median windows, weighted-median cells, boilerplate n-gram
    * regroups), and the 1 MiB default floor collapses them to 1-6 tasks
    * on a 32-core box (measured r11: dq11 3.75 s → 1.71 s warm at
    * 256 KiB). The floor only binds when a shuffle is smaller than
    * cores × floor — at production scale partitions dwarf either value
    * and the advisory size (64 MiB default) governs, so this is a
    * small-input parallelism fix, not a cluster tune.
    */
  private val MinPartitionSize = "256k"

  /** Every conf the engine sets on a `local[cores]` session. */
  def confs(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // Let AQE re-plan the output partitioning of cached plans (default
    // false). The iterative operators pin loop invariants with
    // Materialize.cached; without this, the cached relation keeps the static
    // shuffle partition count and every iteration scans it at that
    // width — measured at sf0.1 (r11 StatsProbe): g1_pagerank 216→81
    // tasks, task time 121→52 s; g4/g5/g6/g11 tasks −60%, task time
    // −50%. At production scale the same flag sizes cached partitions
    // from actual bytes (advisory size) instead of a static count —
    // scale-adaptive in both directions, not a local[32] tune.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinPartitionSize)

  /** The running session, or a new one built from [[confs]] plus `extra`
    * (the test suite adds only its warehouse dir). Log level WARN.
    */
  def create(cores: Int = envCores, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder().config(confs(cores) ++ extra).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
