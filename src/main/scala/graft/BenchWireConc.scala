package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import graft.pg.server.PgWireServer

/** Wire-path concurrency throughput (round-10 stretch ask): a mixed light
  * workload driven through the live server at 8/16/32 connections with the
  * FAIR scheduler pool on, reporting queries/second and p50/p95 latency
  * per level. Every worker runs the full extended-protocol choreography
  * per query (Parse+Bind+Describe+Execute+Sync on the unnamed statement),
  * so the numbers include parser, analysis, execution, and codec — the
  * end-to-end cost a pooled OLTP-ish client actually pays.
  */
object BenchWireConc {

  private val Workload: Seq[String] = Seq(
    "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 5",
    "SELECT r_name, COUNT(*) AS n FROM nation JOIN region " +
      "ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name",
    "SELECT COUNT(*) AS n FROM customer",
    "SELECT 1 AS x")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val secsPerLevel = sys.env.getOrElse("SPARK_GRAFT_CONC_SECS", "20").toInt
    val spark = LocalSpark.session(fairScheduler = true)
    Tables.serve(spark, sfDir)
    val server = new PgWireServer(spark, port = 0)
    server.start()

    final case class Level(conns: Int, qps: Double, p50Ms: Double, p95Ms: Double,
        errors: Int, n: Int)
    val levels = mutable.ArrayBuffer.empty[Level]
    Seq(8, 16, 32).foreach { conns =>
      val stop = new AtomicBoolean(false)
      val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val errors = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until conns).map { wid =>
        new Thread(() => {
          val c = new BenchWire.WireClient(server.boundPort)
          try {
            c.connect()
            var i = wid // stagger the mix across workers
            while (!stop.get()) {
              val sql = Workload(i % Workload.length)
              i += 1
              val t0 = System.nanoTime()
              try {
                c.parseBindDescribeExecute("", "", sql, 0)
                var err = false
                c.drain((t, _) => if (t == 'E') err = true)
                if (err) errors.incrementAndGet()
                else latencies.add((System.nanoTime() - t0) / 1e6)
              } catch {
                case _: Throwable =>
                  errors.incrementAndGet(); stop.set(true)
              }
            }
          } finally c.close()
        }, s"wire-conc-$wid")
      }
      // short warmup at this level before the timed window
      threads.foreach(_.start())
      Thread.sleep(3000)
      latencies.clear(); errors.set(0)
      val w0 = System.nanoTime()
      Thread.sleep(secsPerLevel * 1000L)
      stop.set(true)
      threads.foreach(_.join(30000))
      val wall = (System.nanoTime() - w0) / 1e9
      val ls = latencies.toArray(Array.empty[java.lang.Double]).map(_.doubleValue()).sorted
      def pct(p: Double): Double =
        if (ls.isEmpty) -1 else ls(math.min(ls.length - 1, (p * ls.length).toInt))
      levels += Level(conns, ls.length / wall, pct(0.50), pct(0.95), errors.get(), ls.length)
      System.err.println(f"[conc] $conns conns: ${ls.length / wall}%.1f qps " +
        f"p50=${pct(0.50)}%.1fms p95=${pct(0.95)}%.1fms errors=${errors.get()}")
    }
    server.stop()
    val body = levels.map(l =>
      f""""c${l.conns}":{"qps":${l.qps}%.2f,"p50_ms":${l.p50Ms}%.2f,"p95_ms":${l.p95Ms}%.2f,"errors":${l.errors},"n":${l.n}}""")
      .mkString("{", ",", "}")
    val line = s"""{"metric":"wire_conc","sf":"$sfDir","secs_per_level":$secsPerLevel,"levels":$body}"""
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    rawOut.println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_conc.json"), line + "\n")
    catch { case _: Throwable => }
    spark.stop()
  }
}
