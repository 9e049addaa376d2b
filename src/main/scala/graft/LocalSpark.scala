package graft

import org.apache.spark.sql.SparkSession

/** The local session every batch main runs on (Bench, BenchWire,
  * BenchWireConc, PlanDump, ScaleGen, Verify) — the one place that reads
  * `SPARK_GRAFT_CPUS`. The long-lived server launcher (`Serve`) keeps its
  * own builder and Spark's bounded class cache, on the same [[cpus]].
  */
object LocalSpark {
  /** `SPARK_GRAFT_CPUS`, or the core count when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with as many shuffle partitions, UTC, no UI, log level
    * WARN. `fairScheduler` pools jobs FAIR, for BenchWireConc's concurrent
    * connections.
    */
  def session(fairScheduler: Boolean = false): SparkSession = {
    val cpus = LocalSpark.cpus
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 105 queries x several whole-stage-codegen units each blows far past
      // the default 100-entry generated-class cache; the resulting evict +
      // recompile storms late in the JVM's life (huge intern/class tables
      // make Janino compiles 100x slower) randomly added 40-200s to ONE
      // unlucky query per run. Cache every unit instead: thread dumps
      // during the stalls showed CodeGenerator.doCompile/String.intern.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    if (fairScheduler) b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
