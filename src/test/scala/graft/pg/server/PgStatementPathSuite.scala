package graft.pg.server

import java.nio.charset.StandardCharsets.UTF_8

import graft.TestSpark
import graft.pg.PgCatalog
import graft.pg.wire.PgTypes

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every statement flow of the wire handler, seen from the outside: the
  * `graft_stat` counters each flow moves (statements_run, statements_failed,
  * rows_streamed), the extended protocol answering SET and plain EXPLAIN
  * exactly as the simple protocol does, Bind's checks of its parameters,
  * and results already in memory answering without a Spark job.
  */
class PgStatementPathSuite extends AnyFunSuite with BeforeAndAfterAll {
  import PgStatementPathSuite.Delta
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
    TestSpark.spark.sql("DROP TABLE IF EXISTS stat_copy")
    TestSpark.spark.sql("CREATE TABLE stat_copy (k INT, v STRING) USING parquet")
  }

  override def afterAll(): Unit = {
    TestSpark.spark.sql("DROP TABLE IF EXISTS stat_copy")
    if (server != null) server.stop()
  }

  private def withClient[A](f: WireClient => A): A = WireClient.withClient(port)(f)

  /** The counter movement `body` causes, read through `graft_stat` on the
    * same connection. The probe is itself a one-row simple statement: the
    * later read sees one more statement run and the earlier probe's row,
    * which is taken off here.
    */
  private def delta(c: WireClient)(body: => Unit): Delta = {
    def read(): Seq[Long] = col0(c.simple(
      "SELECT graft_stat('statements_run') || ',' || graft_stat('statements_failed') || " +
        "',' || graft_stat('rows_streamed')")).head.split(',').map(_.toLong).toSeq
    val before = read()
    body
    val after = read()
    Delta(after(0) - before(0) - 1, after(1) - before(1), after(2) - before(2) - 1)
  }

  test("counters: simple single- and multi-statement queries") {
    withClient { c =>
      assert(delta(c)(c.simple("SELECT 1")) === Delta(1, 0, 1))
      assert(delta(c) {
        val r = c.simple("SELECT 1; SELECT id FROM range(3); SET spark.graft.stat_probe=1")
        assert(commandTags(r) === Seq("SELECT 1", "SELECT 3", "SET"))
      } === Delta(3, 0, 4))
    }
  }

  test("counters: an extended $1 SELECT suspended and resumed twice is one statement") {
    withClient { c =>
      val d = delta(c) {
        c.parse("s", "SELECT id FROM range(10) WHERE id < $1", oids = Seq(PgTypes.INT8))
        c.bind("p", "s", Seq("3"))
        c.execute("p", maxRows = 1)
        c.execute("p", maxRows = 1)
        c.execute("p", maxRows = 1)
        val r = c.sync()
        assert(types(r).filter("sCD".contains(_)) === "DsDsDC")
        assert(commandTags(r) === Seq("SELECT 3"))
      }
      assert(d === Delta(1, 0, 3))
    }
  }

  test("counters: DECLARE / FETCH 2 / MOVE / CLOSE") {
    withClient { c =>
      val d = delta(c) {
        assert(commandTags(c.simple("DECLARE cur CURSOR FOR SELECT id FROM range(5)")) ===
          Seq("DECLARE CURSOR"))
        assert(commandTags(c.simple("FETCH 2 FROM cur")) === Seq("FETCH 2"))
        assert(commandTags(c.simple("MOVE 1 IN cur")) === Seq("MOVE 1"))
        assert(commandTags(c.simple("CLOSE cur")) === Seq("CLOSE CURSOR"))
      }
      assert(d === Delta(4, 0, 2))
    }
  }

  test("counters: COPY FROM STDIN and COPY TO STDOUT in text and binary") {
    withClient { c =>
      assert(delta(c) {
        c.send('Q', c.cstr("COPY stat_copy FROM STDIN"))
        assert(c.drain(stopAt = 'G').last._1 === 'G')
        c.send('d', "1\ta\n2\tb\n".getBytes(UTF_8))
        c.send('c', Array.empty)
        assert(commandTags(c.drain()) === Seq("COPY 2"))
      } === Delta(1, 0, 0))
      assert(delta(c) {
        assert(commandTags(c.simple("COPY (SELECT id FROM range(3)) TO STDOUT")) === Seq("COPY 3"))
      } === Delta(1, 0, 3))
      assert(delta(c) {
        val r = c.simple("COPY (SELECT id FROM range(3)) TO STDOUT WITH (FORMAT binary)")
        assert(commandTags(r) === Seq("COPY 3"))
      } === Delta(1, 0, 3))
    }
  }

  test("counters: a fastpath call") {
    withClient { c =>
      val oid = PgCatalog.fastpathFunctions.find(_._2 == "pg_backend_pid").get._1
      assert(delta(c) {
        c.send('F', c.i32(oid) ++ c.i16(0) ++ c.i16(0) ++ c.i16(0))
        assert(c.drain().exists(_._1 == 'V'))
      } === Delta(1, 0, 0))
    }
  }

  test("counters: EXPLAIN ANALYZE over both protocols counts its plan rows") {
    withClient { c =>
      var lines = 0
      val simple = delta(c) {
        val r = c.simple("EXPLAIN ANALYZE SELECT id FROM range(3)")
        lines = dataRows(r)
        assert(commandTags(r) === Seq("EXPLAIN"))
      }
      assert(lines > 0 && simple === Delta(1, 0, lines))
      val extended = delta(c) {
        c.parse("", "EXPLAIN ANALYZE SELECT id FROM range(3)")
        c.bind("", "")
        c.execute("")
        val r = c.sync()
        lines = dataRows(r)
        assert(commandTags(r) === Seq("EXPLAIN"))
      }
      assert(lines > 0 && extended === Delta(1, 0, lines))
    }
  }

  test("counters: parse error, unknown message type and CopyFail each count one failure") {
    withClient { c =>
      assert(delta(c)(assert(c.simple("SELEC 1").exists(_._1 == 'E'))) === Delta(0, 1, 0))
      assert(delta(c) {
        c.parse("", "SELEC 1")
        assert(c.sync().exists(_._1 == 'E'))
      } === Delta(0, 1, 0))
      assert(delta(c) {
        c.send('z', Array.empty)
        assert(c.drain().exists(_._1 == 'E'))
      } === Delta(0, 1, 0))
      // the aborted COPY never reached CopyDone, where it executes
      assert(delta(c) {
        c.send('Q', c.cstr("COPY stat_copy FROM STDIN"))
        c.drain(stopAt = 'G')
        c.send('d', "3\tc\n".getBytes(UTF_8))
        c.send('f', c.cstr("client gave up"))
        assert(c.drain().exists(_._1 == 'E'))
      } === Delta(0, 1, 0))
    }
  }

  test("extended SET answers NoData and tag SET, and announces a new TimeZone") {
    withClient { c =>
      c.parse("", "SET spark.graft.ext_set_probe=on")
      c.bind("", "")
      c.describePortal("")
      c.execute("")
      val set = c.sync()
      assert(!types(set).exists("TD".contains(_)), types(set))
      assert(types(set).contains('n'), "Describe of a SET portal answers NoData")
      assert(commandTags(set) === Seq("SET"))

      c.parse("", "SET TIME ZONE 'America/Los_Angeles'")
      c.bind("", "")
      c.describePortal("")
      c.execute("")
      val tz = c.sync()
      assert(!types(tz).exists("TD".contains(_)), types(tz))
      assert(commandTags(tz) === Seq("SET"))
      assert(paramStatuses(tz).contains(("TimeZone", "America/Los_Angeles")))
      assert(col0(c.simple("SHOW TimeZone")) === Seq("America/Los_Angeles"))
    }
  }

  test("extended plain EXPLAIN stays analysis-only: set_config does not fire") {
    withClient { c =>
      c.parse("", "EXPLAIN SELECT set_config('graft.ext_explain_probe', 'fired', false)")
      c.bind("", "")
      c.execute("")
      val r = c.sync()
      assert(!types(r).contains('E'), r.map(_._1))
      assert(col0(r).mkString.contains("Physical Plan"))
      assert(!col0(c.simple("SHOW graft.ext_explain_probe")).contains("fired"))
    }
  }

  test("Bind checks the parameter count: 08P01, nothing runs, the connection goes on") {
    withClient { c =>
      def bindError(stmt: String, params: Seq[String]): Option[(String, String)] = {
        c.bind("", stmt, params)
        c.execute("")
        val r = c.sync()
        assert(!types(r).contains('2') && dataRows(r) === 0, types(r))
        error(r)
      }
      def requires(stmt: String, supplied: Int, required: Int) = Some(("08P01",
        s"bind message supplies $supplied parameters, but prepared statement " +
          s""""$stmt" requires $required"""))
      c.parse("one", "SELECT id FROM range(10) WHERE id = $1", Seq(PgTypes.INT8))
      assert(bindError("one", Nil) === requires("one", 0, 1))
      assert(bindError("one", Seq("1", "2")) === requires("one", 2, 1))
      // declared types count even when the text uses fewer
      c.parse("declared", "SELECT id FROM range(10) WHERE id = $1",
        Seq(PgTypes.INT8, PgTypes.INT8))
      assert(bindError("declared", Seq("1")) === requires("declared", 1, 2))
      // and the highest `$n` counts when fewer types are declared; Describe
      // reports the same count
      c.parse("highest", "SELECT id FROM range(10) WHERE id IN ($1, $3) ORDER BY id",
        Seq(PgTypes.INT8))
      c.describeStatement("highest")
      assert(paramTypes(c.sync()) === Seq(PgTypes.INT8, PgTypes.VARCHAR, PgTypes.VARCHAR))
      assert(bindError("highest", Seq("1", "3")) === requires("highest", 2, 3))
      c.bind("", "highest", Seq("1", null, "3"))
      c.execute("")
      assert(col0(c.sync()) === Seq("1", "3"))
    }
  }

  test("malformed text for a bool or numeric parameter fails at Bind with 22P02") {
    withClient { c =>
      val lookup = "SELECT id FROM range(50) WHERE id = $1"
      val bad = c.extended(lookup, Seq("abc"), Seq(PgTypes.INT8))
      assert(types(bad) === "1EZ", "answered at Bind: no BindComplete, nothing executed")
      assert(error(bad) === Some(("22P02", """invalid input syntax for type bigint: "abc"""")))
      // surrounding whitespace is ignored, as in PG's int8in
      assert(col0(c.extended(lookup, Seq(" 42 "), Seq(PgTypes.INT8))) === Seq("42"))
      Seq(PgTypes.BOOL -> "boolean", PgTypes.INT2 -> "smallint", PgTypes.INT4 -> "integer",
        PgTypes.FLOAT4 -> "real", PgTypes.FLOAT8 -> "double precision").foreach {
        case (oid, name) =>
          assert(error(c.extended("SELECT $1 IS NULL", Seq("abc"), Seq(oid))) ===
            Some(("22P02", s"""invalid input syntax for type $name: "abc"""")))
      }
      assert(error(c.extended("SELECT $1 IS NULL", Seq("99999"), Seq(PgTypes.INT2))) ===
        Some(("22003", """value "99999" is out of range for type smallint""")))
      assert(col0(c.extended("SELECT NOT $1", Seq(" yes "), Seq(PgTypes.BOOL))) === Seq("f"))
      // date text keeps the fallback to Spark's cast, which reads more forms
      assert(col0(c.extended("SELECT CAST($1 AS DATE) + 1", Seq("2024-1-5"), Seq(PgTypes.DATE))) ===
        Seq("2024-01-06"))
    }
  }

  test("results already in memory run no Spark job; a UDF keeps its job") {
    val sc = TestSpark.spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.marker")))
          .foreach(markers.add)
      }
    }
    // listener events arrive in order but asynchronously: once a marker job
    // started after `body` has been seen, so has every job `body` launched
    // (and a marker before it keeps earlier jobs still queued out of the count)
    def marker(): Unit = {
      val name = s"marker-${System.nanoTime}"
      sc.setLocalProperty("graft.test.marker", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime + 30000000000L
      while (!markers.contains(name) && System.nanoTime < deadline) Thread.sleep(10)
      assert(markers.contains(name))
    }
    def jobsOf(body: => Unit): Int = {
      marker()
      val before = started.get
      body
      marker()
      started.get - before - 1
    }
    sc.addSparkListener(listener)
    try withClient { c =>
      var r: Msgs = Nil
      assert(jobsOf { r = c.simple("SELECT 1") } === 0)
      assert(col0(r) === Seq("1"))
      assert(jobsOf { r = c.simple("SELECT typname FROM pg_catalog.pg_type WHERE oid = 23") } === 0)
      assert(col0(r) === Seq("int4"))
      assert(jobsOf { r = c.simple("SELECT pg_sleep(0)") } >= 1)
      assert(commandTags(r) === Seq("SELECT 1"))
    } finally sc.removeSparkListener(listener)
  }
}

object PgStatementPathSuite {
  final case class Delta(run: Long, failed: Long, rows: Long)
}
