package graft.pg.server

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import graft.TestSpark

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-session soak: N parallel connections run a mixed workload
  * (SET + temp-view DDL + cursors + params + deliberate errors) against ONE
  * server at the same time, starting behind a latch so the sessions really
  * overlap. Asserts per-session isolation (same-named temp views carry
  * different per-session values, SET confs don't bleed) and connection
  * recovery after errors — under true concurrency, not the sequential
  * isolation the other suites exercise. Also covers the idle reaper and
  * cancel racing live traffic. Reference analog: the multi-session tests of
  * TEST/PgJdbcSuite.scala:1283-1329, which run the real driver sequentially;
  * this suite is strictly harsher on the session registry and wire layer.
  */
class PgConcurrencySuite extends AnyFunSuite with BeforeAndAfterAll {
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  /** A soak session; a wedged server surfaces as a test failure, not a
    * hang.
    */
  private def soakClient(appName: String = ""): WireClient =
    connected(port, 120000, Seq("application_name" -> appName))

  /** extended-protocol cursor read with fetchSize, Sync between rounds */
  private def cursorRead(c: WireClient, sql: String, fetchSize: Int): Seq[String] = {
    c.parse("", sql)
    c.bind("cur", "")
    c.execute("cur", fetchSize)
    val out = mutable.ArrayBuffer.empty[String]
    var msgs = c.sync()
    out ++= col0(msgs)
    while (msgs.exists(_._1 == 's')) {
      c.execute("cur", fetchSize)
      msgs = c.sync()
      out ++= col0(msgs)
    }
    c.closePortal("cur")
    c.sync()
    out.toSeq
  }

  /** Bind the unnamed portal from a named statement, Execute, Sync */
  private def bindExec(c: WireClient, stmt: String): Msgs = {
    c.bind("", stmt)
    c.execute("")
    c.sync()
  }

  test("32 concurrent sessions: isolation and recovery under a mixed soak") {
    // one connection per server CPU at the production default — the scale
    // a pooled deployment actually holds open
    val nSessions = 32
    val rounds = 2
    val pool = Executors.newFixedThreadPool(nSessions)
    val firstFailure = new AtomicReference[Throwable]
    (1 to rounds).foreach { round =>
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(nSessions)
      (0 until nSessions).foreach { id =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            try {
              val c = soakClient()
              // session variables live in the SparkSession — every session
              // declares the SAME variable name; values must never bleed
              c.simple("DECLARE OR REPLACE VARIABLE soak_tag STRING DEFAULT 'unset'")
              // SET conf short-circuits rows PG-style (tag only), so also
              // exercise it for crash-safety even though reads go via the var
              c.simple(s"SET spark.graft.soak.owner=$id")
              start.await(60, TimeUnit.SECONDS)
              (1 to 5).foreach { iter =>
                val tag = s"s${id}_r${round}_i$iter"
                val setR = c.simple(s"SET VAR soak_tag = '$tag'")
                if (setR.exists(_._1 == 'E')) {
                  throw new AssertionError(s"session $id SET VAR failed")
                }
                val v = col0(c.simple("SELECT soak_tag AS t"))
                if (v != Seq(tag)) {
                  throw new AssertionError(
                    s"session $id read foreign session-variable value $v, wanted $tag")
                }
                // same-NAMED temp view per session, different value
                c.simple(
                  s"CREATE OR REPLACE TEMPORARY VIEW soak_view AS SELECT ${id * 1000 + iter} AS v")
                val vv = col0(c.simple("SELECT v FROM soak_view"))
                if (vv != Seq((id * 1000 + iter).toString)) {
                  throw new AssertionError(
                    s"session $id saw foreign temp view: $vv (iter $iter)")
                }
                // extended-protocol param + cursor loop, interleaved with the
                // other sessions' traffic
                val p = col0(c.extended("SELECT $1 * 2 AS v", Seq((id + iter).toString), Seq(23)))
                if (p != Seq(((id + iter) * 2).toString)) {
                  throw new AssertionError(s"session $id param echo wrong: $p")
                }
                val cur = cursorRead(c,
                  s"SELECT id + $id AS x FROM range(6) ORDER BY x", 2)
                val want = (0 until 6).map(k => (k + id).toString)
                if (cur != want) {
                  throw new AssertionError(s"session $id cursor read $cur, want $want")
                }
                // deliberate error: the session must recover at the next query
                val err = c.simple("SELECT definitely_missing_col")
                if (!err.exists(_._1 == 'E')) {
                  throw new AssertionError(s"session $id error did not surface")
                }
                val ok = col0(c.simple(s"SELECT ${id + 100}"))
                if (ok != Seq((id + 100).toString)) {
                  throw new AssertionError(s"session $id did not recover after error")
                }
              }
              c.close()
            } catch {
              case t: Throwable => firstFailure.compareAndSet(null, t)
            } finally done.countDown()
          }
        })
      }
      start.countDown()
      assert(done.await(180, TimeUnit.SECONDS), s"soak round $round timed out")
      if (firstFailure.get() != null) throw firstFailure.get()
    }
    pool.shutdown()
  }

  test("pooled checkouts: GUC state and DISCARD ALL never bleed across concurrent sessions") {
    // the PgBouncer lifecycle, concurrently: every checkout SETs its own
    // application_name/statement_timeout and prepares a statement; every
    // check-in runs DISCARD ALL. Overrides must stay session-local and the
    // reset must land only on the discarding session.
    val nSessions = 6
    val pool = Executors.newFixedThreadPool(nSessions)
    val firstFailure = new AtomicReference[Throwable]
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(nSessions)
    (0 until nSessions).foreach { id =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          try {
            val c = soakClient(appName = s"boot_$id")
            start.await(60, TimeUnit.SECONDS)
            (1 to 4).foreach { iter =>
              // checkout: client-specific GUC overrides
              c.simple(s"SET application_name TO 'pool_${id}_$iter'")
              c.simple(s"SET statement_timeout = ${(id + 1) * 1000}")
              val app = col0(c.simple("SHOW application_name"))
              if (app != Seq(s"pool_${id}_$iter")) {
                throw new AssertionError(s"session $id read foreign application_name: $app")
              }
              val timeout = col0(c.simple("SHOW statement_timeout"))
              if (timeout != Seq(s"${id + 1}s")) {
                throw new AssertionError(s"session $id read foreign statement_timeout: $timeout")
              }
              // a driver-cached prepared statement for this checkout
              c.parse(s"ps_$id", s"SELECT ${id * 10 + iter} AS v")
              c.sync()
              val got = col0(bindExec(c, s"ps_$id"))
              if (got != Seq((id * 10 + iter).toString)) {
                throw new AssertionError(s"session $id prepared read $got")
              }
              // check-in: the pool's reset
              val reset = c.simple("DISCARD ALL")
              if (reset.exists(_._1 == 'E')) {
                throw new AssertionError(s"session $id DISCARD ALL failed")
              }
              // back to the startup default of THIS session, not blank, not
              // another session's value
              val appAfter = col0(c.simple("SHOW application_name"))
              if (appAfter != Seq(s"boot_$id")) {
                throw new AssertionError(
                  s"session $id application_name after DISCARD: $appAfter, want boot_$id")
              }
              if (col0(c.simple("SHOW statement_timeout")) != Seq("0")) {
                throw new AssertionError(s"session $id timeout survived DISCARD ALL")
              }
              // the prepared statement died with the checkout
              if (!bindExec(c, s"ps_$id").exists(_._1 == 'E')) {
                throw new AssertionError(s"session $id statement survived DISCARD ALL")
              }
            }
            c.close()
          } catch {
            case t: Throwable => firstFailure.compareAndSet(null, t)
          } finally done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(180, TimeUnit.SECONDS), "pooled GUC soak timed out")
    if (firstFailure.get() != null) throw firstFailure.get()
    pool.shutdown()
  }

  test("idle reaper kills only the idle victim while live sessions continue") {
    val live = soakClient()
    val victim = soakClient()
    // both sessions healthy first
    assert(col0(live.simple("SELECT 1")) === Seq("1"))
    assert(col0(victim.simple("SELECT 2")) === Seq("2"))
    // backdate the victim's activity clock and reap
    val vs = SessionRegistry.get(victim.pid).getOrElse(fail("victim not registered"))
    vs.lastActivity = System.currentTimeMillis() - 600000
    SessionRegistry.reapIdle(60000)
    // the live session is untouched
    assert(col0(live.simple("SELECT 3")) === Seq("3"))
    // the victim's channel was closed by onReap: its next read hits EOF
    val dead =
      try { victim.simple("SELECT 4"); false }
      catch { case _: java.io.IOException => true }
    assert(dead, "reaped session's connection must be closed")
    live.close()
  }

  test("pg_cancel_backend and pg_terminate_backend signal across sessions") {
    val worker = soakClient()
    val admin = soakClient()
    // worker starts a long query; admin cancels it BY PID through SQL (the
    // pg_stat_activity -> pg_cancel_backend admin loop, no secret needed)
    worker.send('Q', worker.cstr("SELECT max(id * 3 + 1) FROM range(100000000000)"))
    Thread.sleep(1000)
    assert(col0(admin.simple(
      s"SELECT pg_cancel_backend(${worker.pid}) AS ok")) === Seq("t"))
    val msgs = worker.drain()
    assert(msgs.exists(_._1 == 'E'), "admin-canceled query surfaces an error")
    assert(col0(worker.simple("SELECT 11")) === Seq("11"),
      "canceled session stays usable")
    // unknown pid reports false, like PG
    assert(col0(admin.simple(
      "SELECT pg_cancel_backend(999999) AS ok")) === Seq("f"))
    // terminate: the victim's connection is closed server-side
    val victim = soakClient()
    assert(col0(admin.simple(
      s"SELECT pg_terminate_backend(${victim.pid}) AS ok")) === Seq("t"))
    val dead =
      try { victim.simple("SELECT 12"); false }
      catch { case _: java.io.IOException => true }
    assert(dead, "terminated session's connection must be closed")
    worker.close(); admin.close()
  }

  test("cancel interrupts one session's query without disturbing another mid-flight") {
    val worker = soakClient()
    val bystander = soakClient()
    // worker starts a long-running query
    worker.send('Q', worker.cstr("SELECT max(id * 2 + 1) FROM range(100000000000)"))
    Thread.sleep(1000)
    // bystander keeps working while the worker's query runs
    assert(col0(bystander.simple("SELECT 21")) === Seq("21"))
    // cancel the worker via its BackendKeyData
    worker.cancel()
    val msgs = worker.drain()
    assert(msgs.exists(_._1 == 'E'), "canceled query surfaces an error")
    // both sessions remain usable
    assert(col0(worker.simple("SELECT 5")) === Seq("5"))
    assert(col0(bystander.simple("SELECT 6")) === Seq("6"))
    worker.close(); bystander.close()
  }
}
