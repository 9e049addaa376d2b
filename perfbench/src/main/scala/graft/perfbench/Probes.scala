package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine counts from Spark's public listener and metric sources: jobs,
  * tasks, scheduler delay and executor busy time (SparkListener), Janino
  * compiles (CodegenMetrics) and files listed (HiveCatalogMetrics).
  */
final class EngineProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val schedDelayMs = new AtomicLong
  val runMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      runMs.addAndGet(m.executorRunTime)
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      schedDelayMs.addAndGet(math.max(0L, info.duration - busy - info.gettingResultTime))
    }
  }

  def snapshot(): EngineProbe.Snap = EngineProbe.Snap(jobs.get, tasks.get, schedDelayMs.get,
    runMs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount)
}

object EngineProbe {
  final case class Snap(jobs: Long, tasks: Long, schedDelayMs: Long, runMs: Long,
      compiles: Long, compileMeanMs: Double, files: Long)

  def attach(spark: SparkSession): EngineProbe = {
    val p = new EngineProbe
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Per-op engine metrics between two snapshots taken around `ops`
    * operations that ran for `wallNanos` on `cpus` cores.
    */
  def report(rec: Recorder, a: Snap, b: Snap, ops: Int, wallNanos: Long, cpus: Int): Unit = {
    val n = math.max(1, ops).toDouble
    val tasks = b.tasks - a.tasks
    rec.put("engine.jobs_per_op", (b.jobs - a.jobs) / n, "count", ops)
    rec.put("engine.tasks_per_op", tasks / n, "count", ops)
    rec.put("engine.sched_delay_ms", (b.schedDelayMs - a.schedDelayMs) / math.max(1.0, tasks.toDouble),
      "ms", tasks.toInt)
    rec.put("engine.task_busy_share", (b.runMs - a.runMs) / (wallNanos / 1e6 * cpus), "ratio")
    val compiles = b.compiles - a.compiles
    rec.put("engine.codegen_compiles_per_op", compiles / n, "count", ops)
    rec.put("engine.codegen_ms_per_op", compiles * b.compileMeanMs / n, "ms", compiles.toInt)
    rec.put("engine.files_discovered_per_op", (b.files - a.files) / n, "count", ops)
  }
}

/** JVM and host figures: GC and JIT time, process CPU, whole-host CPU. */
object HostProbe {
  final case class Snap(gcMs: Long, jitMs: Long, procCpuNs: Long, hostBusy: Long, hostTotal: Long,
      hostSteal: Long, wall: Long)

  /** Whole-machine CPU ticks from /proc/stat: (busy, total, steal). Steal is
    * time the hypervisor gave this machine's CPUs to someone else.
    */
  private def hostTicks(): (Long, Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
        val steal = if (cpu.length > 7) cpu(7) else 0L
        (cpu.sum - idle - steal, cpu.sum, steal)
      } finally f.close()
    } catch { case _: Throwable => (0L, 0L, 0L) }

  private val TicksPerSec = 100.0

  def snapshot(): Snap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val (busy, total, steal) = hostTicks()
    Snap(gc, jit, cpu, busy, total, steal, System.nanoTime())
  }

  /** JVM figures (traced runs only). */
  def report(rec: Recorder, a: Snap, b: Snap, cpus: Int): Unit = {
    val secs = (b.wall - a.wall) / 1e9
    rec.put("host.gc_ms_per_s", (b.gcMs - a.gcMs) / secs, "ms/s")
    rec.put("host.jit_ms_per_s", (b.jitMs - a.jitMs) / secs, "ms/s")
    rec.put("host.proc_cpu_share", (b.procCpuNs - a.procCpuNs) / 1e9 / secs / cpus, "ratio")
    val total = b.hostTotal - a.hostTotal
    if (total > 0) rec.put("host.cpu_busy_share", (b.hostBusy - a.hostBusy).toDouble / total, "ratio")
  }

  /** Contamination figures (every run): the share of the machine's CPU
    * used by other processes, and the share stolen by the hypervisor.
    */
  def foreign(rec: Recorder, a: Snap, b: Snap): Unit = {
    val total = b.hostTotal - a.hostTotal
    if (total > 0) {
      val ownTicks = (b.procCpuNs - a.procCpuNs) / 1e9 * TicksPerSec
      rec.put("host.foreign_cpu_share", math.max(0.0, (b.hostBusy - a.hostBusy - ownTicks) / total),
        "ratio")
      rec.put("host.steal_share", (b.hostSteal - a.hostSteal).toDouble / total, "ratio")
    }
  }

  /** Used heap after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(50); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
