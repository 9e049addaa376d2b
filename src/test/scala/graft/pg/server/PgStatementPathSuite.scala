package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.TestSpark
import graft.pg.PgCatalog

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every statement flow of the wire handler, seen from the outside: the
  * `graft_stat` counters each flow moves (statements_run, statements_failed,
  * rows_streamed), and the extended protocol answering SET and plain EXPLAIN
  * exactly as the simple protocol does.
  */
class PgStatementPathSuite extends AnyFunSuite with BeforeAndAfterAll {
  import PgStatementPathSuite.Delta

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

  private type Msgs = Seq[(Char, Array[Byte])]

  private class Client {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(60000)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
    def i16(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
    def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

    def connect(): Unit = {
      val body = cstr("user") ++ cstr("graft") ++ cstr("database") ++
        cstr("default") :+ 0.toByte
      os.writeInt(8 + body.length); os.writeInt(196608); os.write(body); os.flush()
      drain()
    }

    def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe); os.writeInt(4 + payload.length); os.write(payload); os.flush()
    }

    /** messages up to and including ReadyForQuery, or up to the first
      * `stopAt` message type (CopyInResponse leaves no ReadyForQuery)
      */
    def drain(stopAt: Char = 'Z'): Msgs = {
      val out = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val payload = new Array[Byte](in.readInt() - 4)
        in.readFully(payload)
        out += ((tpe, payload))
        done = tpe == 'Z' || tpe == stopAt
      }
      out.toSeq
    }

    def simple(sql: String): Msgs = { send('Q', cstr(sql)); drain() }

    /** Parse with an optional declared int8 `$1`, Bind with text params. */
    def parse(stmt: String, sql: String, int8Params: Int = 0): Unit =
      send('P', cstr(stmt) ++ cstr(sql) ++ i16(int8Params) ++
        (0 until int8Params).flatMap(_ => i32(20)))
    def bind(portal: String, stmt: String, params: Seq[String] = Nil): Unit =
      send('B', cstr(portal) ++ cstr(stmt) ++ i16(0) ++ i16(params.length) ++
        params.flatMap { p => val b = p.getBytes(UTF_8); i32(b.length) ++ b } ++ i16(0))
    def describePortal(portal: String): Unit = send('D', Array('P'.toByte) ++ cstr(portal))
    def execute(portal: String, maxRows: Int = 0): Unit = send('E', cstr(portal) ++ i32(maxRows))
    def sync(): Msgs = { send('S', Array.empty); drain() }

    def close(): Unit = { send('X', Array.empty); sock.close() }
  }

  private def str(b: ByteBuffer): String = {
    val sb = new StringBuilder
    var c = b.get()
    while (c != 0) { sb.append(c.toChar); c = b.get() }
    sb.toString
  }
  private def types(m: Msgs): String = m.map(_._1).mkString
  private def tags(m: Msgs): Seq[String] =
    m.filter(_._1 == 'C').map(x => new String(x._2, UTF_8).trim)
  private def dataRows(m: Msgs): Int = m.count(_._1 == 'D')
  private def col0(m: Msgs): Seq[String] = m.filter(_._1 == 'D').map { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    b.getShort
    val len = b.getInt
    if (len < 0) null else { val v = new Array[Byte](len); b.get(v); new String(v, UTF_8) }
  }
  private def paramStatuses(m: Msgs): Seq[(String, String)] =
    m.filter(_._1 == 'S').map { case (_, p) => val b = ByteBuffer.wrap(p); (str(b), str(b)) }

  private def withClient[A](f: Client => A): A = {
    val c = new Client
    c.connect()
    try f(c) finally c.close()
  }

  /** The counter movement `body` causes, read through `graft_stat` on the
    * same connection. The probe is itself a one-row simple statement: the
    * later read sees one more statement run and the earlier probe's row,
    * which is taken off here.
    */
  private def delta(c: Client)(body: => Unit): Delta = {
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
        assert(tags(r) === Seq("SELECT 1", "SELECT 3", "SET"))
      } === Delta(3, 0, 4))
    }
  }

  test("counters: an extended $1 SELECT suspended and resumed twice is one statement") {
    withClient { c =>
      val d = delta(c) {
        c.parse("s", "SELECT id FROM range(10) WHERE id < $1", int8Params = 1)
        c.bind("p", "s", Seq("3"))
        c.execute("p", maxRows = 1)
        c.execute("p", maxRows = 1)
        c.execute("p", maxRows = 1)
        val r = c.sync()
        assert(types(r).filter("sCD".contains(_)) === "DsDsDC")
        assert(tags(r) === Seq("SELECT 3"))
      }
      assert(d === Delta(1, 0, 3))
    }
  }

  test("counters: DECLARE / FETCH 2 / MOVE / CLOSE") {
    withClient { c =>
      val d = delta(c) {
        assert(tags(c.simple("DECLARE cur CURSOR FOR SELECT id FROM range(5)")) ===
          Seq("DECLARE CURSOR"))
        assert(tags(c.simple("FETCH 2 FROM cur")) === Seq("FETCH 2"))
        assert(tags(c.simple("MOVE 1 IN cur")) === Seq("MOVE 1"))
        assert(tags(c.simple("CLOSE cur")) === Seq("CLOSE CURSOR"))
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
        assert(tags(c.drain()) === Seq("COPY 2"))
      } === Delta(1, 0, 0))
      assert(delta(c) {
        assert(tags(c.simple("COPY (SELECT id FROM range(3)) TO STDOUT")) === Seq("COPY 3"))
      } === Delta(1, 0, 3))
      assert(delta(c) {
        val r = c.simple("COPY (SELECT id FROM range(3)) TO STDOUT WITH (FORMAT binary)")
        assert(tags(r) === Seq("COPY 3"))
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
        assert(tags(r) === Seq("EXPLAIN"))
      }
      assert(lines > 0 && simple === Delta(1, 0, lines))
      val extended = delta(c) {
        c.parse("", "EXPLAIN ANALYZE SELECT id FROM range(3)")
        c.bind("", "")
        c.execute("")
        val r = c.sync()
        lines = dataRows(r)
        assert(tags(r) === Seq("EXPLAIN"))
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
      assert(tags(set) === Seq("SET"))

      c.parse("", "SET TIME ZONE 'America/Los_Angeles'")
      c.bind("", "")
      c.describePortal("")
      c.execute("")
      val tz = c.sync()
      assert(!types(tz).exists("TD".contains(_)), types(tz))
      assert(tags(tz) === Seq("SET"))
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
}

object PgStatementPathSuite {
  final case class Delta(run: Long, failed: Long, rows: Long)
}
