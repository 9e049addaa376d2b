package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Benchmark process: sets graft up (several times, timed), computes the
  * expected outputs, drives one workload for the given seconds and writes
  * a JSON report of every metric. `perfbench/run.py` builds the program,
  * starts this process and turns the report into the result line.
  *
  * {{{
  * Main --workload point|bulk|lib-fixed --seed N --seconds S --trace 0|1
  *      --data DIR --scratch DIR --expected FILE --out REPORT.json
  * Main --gen-data DIR
  * Main --record-expected FILE --data DIR --scratch DIR
  * }}}
  */
object Main {
  /** the workloads BENCHMARK.json lists; `lib-fixed` runs only on request */
  val Workloads: Set[String] = Set("point", "bulk")
  /** set-ups per run; `setup_s` is their median */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    args.get("gen-data") match {
      case Some(dir) => genData(dir); return
      case None =>
    }
    val dirs = Dirs(arg("data"), arg("scratch"))
    args.get("record-expected") match {
      case Some(path) =>
        val w = new LibFixed(dirs, 0, path)
        w.setup(); w.recordExpected(path); w.teardown(); System.exit(0)
      case None =>
    }
    val code = try { measure(args, dirs); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def genData(dir: String): Unit = {
    val dirs = Dirs(dir, s"$dir/_scratch")
    val spark = Env.session(dirs, wire = true)
    Seq("sf0.1" -> 0.1, "sf0.001" -> 0.001).foreach { case (name, sf) =>
      DataGen.ensure(spark, s"$dir/$name", sf)
    }
    Env.stop(spark)
  }

  private def measure(args: Map[String, String], dirs: Dirs): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val canary = new Canary()
    canary.start()
    val tracer = new Tracer(trace)
    val rec = new Recorder(tracer)
    val w: Workload = workload match {
      case "point" => new Point(dirs, seed)
      case "bulk" => new Bulk(dirs, seed)
      case "lib-fixed" => new LibFixed(dirs, seed, args("expected"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the first one from process start, then again from a stopped
    // session; the median is reported
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    w.setup()
    setupSecs += (System.currentTimeMillis() - jvmStart) / 1000.0
    (1 until Setups).foreach { _ =>
      w.teardown()
      val t0 = System.nanoTime()
      w.setup()
      setupSecs += (System.nanoTime() - t0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prepare()
    phase(s"setups ${setupSecs.mkString(" ")} s, prepare ${(System.nanoTime() - p0) / 1e9} s")

    val engine = EngineProbe.attach(w.spark)
    val e0 = engine.snapshot()
    val h0 = HostProbe.snapshot()
    val drift0 = canary.samples.size
    val start = System.nanoTime()
    w.run(start + (seconds * 1e9).toLong, rec)
    val wall = System.nanoTime() - start
    Thread.sleep(200) // listener bus catches up
    val e1 = engine.snapshot()
    val h1 = HostProbe.snapshot()
    val heap = HostProbe.retainedHeapMb()
    val drifts = canary.samples.drop(drift0)
    canary.stop()
    val d0 = System.nanoTime()
    w.teardown()
    phase(s"run ${wall / 1e9} s, teardown ${(System.nanoTime() - d0) / 1e9} s")

    val ops = rec.all
    val primary = ops.filter(_.primary)
    val okPrimary = primary.filter(_.ok)
    val secs = (wall - rec.pausedNanos) / 1e9
    rec.put("setup_s", Stats.median(setupSecs.toSeq), "s", setupSecs.size)
    rec.put("retained_heap_mb", heap, "MB")
    val lat = okPrimary.map(_.nanos / 1e6)
    rec.put("op_p50_ms", Stats.median(lat), "ms", lat.size)
    if (Stats.supported(lat.size, 0.90)) rec.put("op_p90_ms", Stats.quantile(lat, 0.90), "ms", lat.size)
    rec.put("ops_per_s", okPrimary.size / secs, "1/s", okPrimary.size)
    rec.put("rows_per_s", okPrimary.map(_.rows).sum / secs, "rows/s", okPrimary.size)
    Named.report(workload, rec, secs)
    val driftP99 = if (drifts.isEmpty) 0.0 else Stats.quantile(drifts, 0.99)
    rec.put("host.canary_drift_p50_ms", if (drifts.isEmpty) 0.0 else Stats.median(drifts), "ms", drifts.size)
    rec.put("host.canary_drift_p99_ms", driftP99, "ms", drifts.size)
    rec.put("host.canary_drift_max_ms", if (drifts.isEmpty) 0.0 else drifts.max, "ms", drifts.size)
    HostProbe.foreign(rec, h0, h1)
    val contaminated = Canary.contaminated(driftP99, rec.get("host.foreign_cpu_share").getOrElse(0.0),
      rec.get("host.steal_share").getOrElse(0.0))
    if (trace) {
      EngineProbe.report(rec, e0, e1, primary.size, wall, Env.Cpus)
      HostProbe.report(rec, h0, h1, Env.Cpus)
      Layers.report(rec, ops)
    }

    if (Workloads(workload)) Metrics.check(rec, if (trace) Metrics.PerLayer else Metrics.EndToEnd)

    val out = Paths.get(args("out"))
    if (trace) Trace.writeJsonl(tracer.all, Paths.get(args("out") + ".spans.jsonl"))
    val failed = ops.count(!_.ok)
    val body = new StringBuilder
    body.append(s"""{"workload":"$workload","seed":$seed,"seconds":$secs,"trace":$trace,""")
    body.append(s""""correct":${failed == 0},"attempted":${ops.size},"failed":$failed,""")
    body.append(s""""contaminated":$contaminated,"contaminated_above":{""" +
      s""""canary_p99_ms":${Canary.MaxP99Ms},"foreign_or_steal_share":${Canary.MaxForeignShare}},""")
    body.append(s""""setup_samples_s":[${setupSecs.mkString(",")}],"metrics":{""")
    body.append(rec.metrics.map { case (k, (v, u, n)) =>
      s""""$k":{"value":${num(v)},"unit":"$u","samples":$n}"""
    }.mkString(","))
    body.append("},\"notes\":[")
    body.append(rec.allNotes.map(n => "\"" + esc(n) + "\"").mkString(","))
    body.append("]}")
    Files.write(out, body.toString.getBytes(UTF_8))
  }

  private def phase(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
}

/** Workload-specific end-to-end figures under their own names
  * (`point_p50_ms`, `copy_in_rows_per_s`, ...).
  */
object Named {
  def report(workload: String, rec: Recorder, secs: Double): Unit = {
    val ops = rec.all.filter(_.ok)
    def lat(kind: String => Boolean) = ops.filter(o => kind(o.kind)).map(_.nanos / 1e6)
    def rate(kind: String) = {
      val xs = ops.filter(_.kind == kind)
      xs.map(_.rows).sum / math.max(1e-9, xs.map(_.nanos).sum / 1e9)
    }
    def pct(name: String, xs: Seq[Double], p: Double): Unit =
      if (xs.nonEmpty && (p == 0.5 || Stats.supported(xs.size, p)))
        rec.put(name, Stats.quantile(xs, p), "ms", xs.size)
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, xs) =>
      rec.put(s"kind.${kind}_p50_ms", Stats.median(xs.map(_.nanos / 1e6)), "ms", xs.size)
    }
    workload match {
      case "point" =>
        val stmts = lat(_ != "connect")
        pct("point_p50_ms", stmts, 0.5)
        pct("point_p95_ms", stmts, 0.95)
        rec.put("point_stmts_per_s", stmts.size / secs, "stmt/s", stmts.size)
        pct("connect_p50_ms", lat(_ == "connect"), 0.5)
      case "bulk" =>
        rec.put("fetch_text_rows_per_s", rate("fetch_text"), "rows/s")
        rec.put("fetch_binary_rows_per_s", rate("fetch_binary"), "rows/s")
        rec.put("copy_in_rows_per_s", rate("copy_in"), "rows/s")
      case "lib-fixed" =>
        pct("lib_entry_p50_ms", lat(_ == "batch_entry"), 0.5)
        pct("lib_entry_p90_ms", lat(_ == "batch_entry"), 0.9)
        pct("stream_entry_p50_ms", lat(_ == "stream_entry"), 0.5)
      case _ =>
    }
  }
}

/** Per-layer figures from the spans: the median duration and median self
  * time of every span name, and the tracing overhead read off the
  * alternating traced/untraced operations.
  */
object Layers {
  def report(rec: Recorder, ops: Seq[Op]): Unit = {
    val t = rec.tracer
    val spans = t.all.filter(_.end > 0)
    val self = Trace.selfTimes(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      rec.put(s"${name}_ms", Stats.median(ss.map(_.dur / 1e6)), "ms", ss.size)
      rec.put(s"$name.self_ms", Stats.median(ss.map(s => self(s.id) / 1e6)), "ms", ss.size)
    }
    // the server's own share of a statement: its wire time minus the time
    // the same statement takes through the layers in-process
    val overhead = spans.filter(s => s.name == "wire.stmt" || s.name == "replay")
      .groupBy(_.req).values.flatMap { ss =>
        for (w <- ss.find(_.name == "wire.stmt"); r <- ss.find(_.name == "replay"))
          yield (w.dur - r.dur) / 1e6
      }.toSeq
    if (overhead.nonEmpty) rec.put("server.overhead_ms", Stats.median(overhead), "ms", overhead.size)
    def ratio(name: String, num: String, den: String, unit: String): Unit =
      if (t.counter(den) > 0)
        rec.put(name, t.counter(num).toDouble / t.counter(den), unit, t.counter(den).toInt)
    ratio("server.messages_per_round", "server.messages", "server.rounds", "count")
    ratio("server.bytes_per_row", "server.bytes", "server.rows", "bytes")
    ratio("codec.encode_text_ns_per_row", "codec.encode_text_ns", "codec.encode_text_rows", "ns")
    ratio("codec.encode_binary_ns_per_row", "codec.encode_binary_ns", "codec.encode_binary_rows", "ns")
    val encRows = t.counter("codec.encode_text_rows") + t.counter("codec.encode_binary_rows")
    if (encRows > 0) rec.put("codec.encode_ns_per_row",
      (t.counter("codec.encode_text_ns") + t.counter("codec.encode_binary_ns")).toDouble / encRows,
      "ns", encRows.toInt)
    ratio("codec.param_decode_ns", "codec.param_decode_ns", "codec.params", "ns")
    ratio("dialect.cte_pruned_share", "dialect.cte_prune_changed", "dialect.cte_prune_attempts", "ratio")
    val p = ops.filter(o => o.primary && o.ok)
    val (tr, un) = p.partition(_.traced)
    if (tr.nonEmpty && un.nonEmpty) {
      val a = Stats.median(tr.map(_.nanos.toDouble))
      val b = Stats.median(un.map(_.nanos.toDouble))
      rec.put("trace.overhead_pct", (a / b - 1) * 100, "%", tr.size)
    }
  }
}
