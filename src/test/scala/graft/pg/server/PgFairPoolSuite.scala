package graft.pg.server

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the per-session fair-scheduler pool
  * (Operations.scala sets `spark.scheduler.pool = graft-pg-<pid>` per
  * statement, reference ExecutorImpl.scala:131-145): under FAIR mode a
  * light statement on one connection completes in a fraction of a heavy
  * concurrent statement's runtime instead of queueing behind all of its
  * tasks. The shared test SparkContext is FIFO (scheduler mode is fixed at
  * context creation), so this forks a server JVM with
  * -Dspark.scheduler.mode=FAIR — the deployment posture the pool
  * assignment exists for.
  */
class PgFairPoolSuite extends AnyFunSuite {
  import WireClient.{connected, error}

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("FAIR pools: a light statement is not starved by a heavy one") {
    val java = sys.props("java.home") + "/bin/java"
    val cmd = (Seq(java, "-Xmx2g") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-Dspark.scheduler.mode=FAIR",
      "-Dderby.system.home=/tmp/graft_fairpool_derby",
      "-cp", sys.props("java.class.path"),
      "graft.pg.server.Serve", "0")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    val proc = pb.start()
    try {
      val reader = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
      var port = -1
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
      var line = reader.readLine()
      while (port < 0 && line != null && System.nanoTime() < deadline) {
        val m = "listening on (\\d+)".r.findFirstMatchIn(line)
        if (m.isDefined) port = m.get.group(1).toInt
        else line = reader.readLine()
      }
      assert(port > 0, "server JVM did not report a bound port in time")
      val drainer = new Thread(() => {
        try { while (reader.readLine() != null) () } catch { case _: Throwable => }
      })
      drainer.setDaemon(true); drainer.start()

      val heavyConn = connected(port, 300000)
      val lightConn = connected(port, 300000)
      try {
        // warm both sessions so codegen/session setup is out of the timings
        assert(error(heavyConn.simple(
          "SELECT max(id * 2 + 1) FROM range(0, 1000, 1, 2)")).isEmpty)
        assert(error(lightConn.simple("SELECT count(*) FROM range(0, 1000, 1, 2)")).isEmpty)

        // heavy: 256 short tasks over ~16B ids — ~7s of work on 4 cores
        // (codegen range scan ~0.5B ids/s/core), with task boundaries every
        // ~100ms where the fair scheduler can slot the other pool's tasks in
        @volatile var heavyMs = -1L
        @volatile var heavyErr: Option[(String, String)] = Some(("", "did not run"))
        val t0 = System.currentTimeMillis()
        val heavy = new Thread(() => {
          heavyErr = error(heavyConn.simple(
            "SELECT max(id * 2 + 1) FROM range(0, 16000000000, 1, 256)"))
          heavyMs = System.currentTimeMillis() - t0
        })
        heavy.start()
        Thread.sleep(1500) // let the heavy job occupy all cores

        val t1 = System.currentTimeMillis()
        val lightErr = error(lightConn.simple("SELECT count(*) FROM range(0, 1000000, 1, 2)"))
        val lightMs = System.currentTimeMillis() - t1
        val lightDoneAt = System.currentTimeMillis() - t0

        heavy.join(TimeUnit.MINUTES.toMillis(3))
        assert(heavyErr.isEmpty, s"heavy statement failed: $heavyErr")
        assert(lightErr.isEmpty, s"light statement failed: $lightErr")
        assert(heavyMs > 0, "heavy statement did not finish")
        // the property FIFO cannot give: the light statement finished while
        // the heavy one was still running, in a small fraction of its time
        assert(lightDoneAt < heavyMs,
          s"light finished at +${lightDoneAt}ms, heavy took ${heavyMs}ms — no overlap")
        assert(lightMs < heavyMs / 3,
          s"light took ${lightMs}ms vs heavy ${heavyMs}ms — starved, pools inert?")
        info(s"heavy ${heavyMs}ms, light ${lightMs}ms (finished at +${lightDoneAt}ms)")
      } finally { heavyConn.close(); lightConn.close() }
    } finally {
      proc.destroyForcibly()
      proc.waitFor(30, TimeUnit.SECONDS)
    }
  }
}
