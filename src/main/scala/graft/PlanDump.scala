package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for selected entries to files — the
  * optimization rounds' plan-evidence artifact (plans/rNN/<name>_before.txt /
  * _after.txt). Streaming entries are skipped: their QE fn EXECUTES the
  * stream (the returned frame is the drained sink), so "the plan" would be
  * the memory-sink scan, not the streamed computation.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [namePrefix...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val prefixes = args.drop(3)
    val spark = LocalSpark.session()
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.all
      .filterNot(q => Bench.isStreaming(q.name))
      .filter(q => prefixes.isEmpty || prefixes.exists(q.name.startsWith))
    // SPARK_GRAFT_PLANDUMP_EXEC=1: noop-execute each entry first so the
    // dump shows the FINAL adaptive plan (AQE's runtime join-strategy
    // rewrites included) — the static plan's SortMergeJoins often become
    // broadcast joins once real sizes are known, and the sweep's job is to
    // prove what actually ran.
    val exec = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1")
    selected.foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        // execute THIS QueryExecution (df.write would plan a separate one,
        // leaving this plan un-finalized): toRdd computes the final
        // adaptive plan and materializes every row, like the noop sink
        if (exec) df.queryExecution.toRdd.foreachPartition(_ => ())
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${q.name}_$suffix.txt"),
          txt.getBytes(UTF_8))
        if (exec) spark.catalog.clearCache()
        System.err.println(s"[plandump] ${q.name} ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
