package graft.perfbench

/** The metrics every workload reports, by name and unit: the end-to-end
  * ones (untraced run) and the per-layer ones (traced run). BENCHMARK.json
  * lists exactly these; the benchmark's own tests hold the two together.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "retained_heap_mb" -> "MB",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "rows_per_s" -> "rows/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "server.parse_ms" -> "ms",
    "server.bind_ms" -> "ms",
    "server.describe_ms" -> "ms",
    "server.execute_ms" -> "ms",
    "server.first_row_ms" -> "ms",
    "server.sync_ms" -> "ms",
    "server.overhead_ms" -> "ms",
    "server.messages_per_round" -> "count",
    "server.bytes_per_row" -> "bytes",
    "dialect.param_register_ms" -> "ms",
    "dialect.cte_prune_ms" -> "ms",
    "dialect.parse_ms" -> "ms",
    "dialect.param_ids_ms" -> "ms",
    "dialect.bind_ms" -> "ms",
    "engine.analyze_ms" -> "ms",
    "engine.optimize_ms" -> "ms",
    "engine.plan_ms" -> "ms",
    "engine.first_row_ms" -> "ms",
    "engine.execute_ms" -> "ms",
    "engine.jobs_per_op" -> "count",
    "engine.tasks_per_op" -> "count",
    "engine.sched_delay_ms" -> "ms",
    "engine.task_busy_share" -> "ratio",
    "engine.codegen_compiles_per_op" -> "count",
    "codec.encode_ns_per_row" -> "ns",
    "codec.encode_text_ns_per_row" -> "ns",
    "host.gc_ms_per_s" -> "ms/s",
    "host.jit_ms_per_s" -> "ms/s",
    "host.proc_cpu_share" -> "ratio",
    "host.cpu_busy_share" -> "ratio",
    "host.foreign_cpu_share" -> "ratio",
    "host.canary_drift_p99_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Fail when a report lacks a listed metric or gives it another unit. */
  def check(rec: Recorder, listed: Seq[(String, String)]): Unit = {
    val got = rec.metrics.toMap
    listed.foreach { case (name, unit) =>
      val m = got.getOrElse(name, throw new IllegalStateException(s"metric $name not measured"))
      require(m._2 == unit, s"metric $name measured in ${m._2}, listed in $unit")
    }
  }
}
