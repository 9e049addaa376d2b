package graft.pg.server

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.TestSpark
import graft.pg.wire.PgTypes

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Protocol error-path scenarios over a raw V3 socket: what a confused,
  * buggy, or hostile client provokes, and what the server must guarantee
  * afterwards. The invariants under test are PG's own (§55.2.2/55.2.3):
  *
  *  - an OVERSIZED frame (length field past the 64 MB cap) answers one
  *    ErrorResponse and closes THAT connection; the server stays up and a
  *    fresh connection works
  *  - Bind to a DROPPED prepared statement answers ErrorResponse 26000
  *    (invalid_sql_statement_name), the batch's remaining messages are
  *    discarded until Sync, and the connection continues
  *  - a MID-PIPELINE error (bad Parse followed by Bind/Describe/Execute/
  *    Execute in one write) produces EXACTLY ONE ErrorResponse, no data or
  *    completion for the dead portion, one ReadyForQuery at Sync
  *  - Describe on a CLOSED portal answers ErrorResponse 34000
  *    (invalid_cursor_name) and recovers at Sync
  *  - Execute on a never-bound portal answers 34000 likewise
  *  - an UNKNOWN message type answers a protocol ErrorResponse (08P01)
  *    without wedging the connection
  *  - a TRUNCATED field (a cstring with no NUL, a Bind value longer than
  *    the frame, a Bind length below -1) answers 08P01 "insufficient data
  *    left in message", as a too-short binary Bind value does
  *  - a binary Bind value of a fixed-width type with bytes LEFT OVER
  *    answers 22P03, PG's exec_bind_message check
  */
class PgErrorPathSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private class RawClient {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(30000)
    private val in = new DataInputStream(sock.getInputStream)
    private val os = new DataOutputStream(sock.getOutputStream)

    def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
    def i16(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).putShort(v.toShort).array()
    def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

    def connect(): Unit = {
      val body = cstr("user") ++ cstr("graft") ++ cstr("database") ++
        cstr("default") :+ 0.toByte
      os.writeInt(8 + body.length)
      os.writeInt(196608)
      os.write(body)
      os.flush()
      drainUntilReady()
    }

    def send(tpe: Char, payload: Array[Byte]): Unit = {
      os.writeByte(tpe)
      os.writeInt(4 + payload.length)
      os.write(payload)
      os.flush()
    }

    /** A frame whose length FIELD claims `claimedLen` without sending the
      * body — enough for the decoder to judge the length.
      */
    def sendHeaderOnly(tpe: Char, claimedLen: Int): Unit = {
      os.writeByte(tpe)
      os.writeInt(claimedLen)
      os.flush()
    }

    def parse(stmt: String, sql: String, oids: Seq[Int] = Nil): Unit =
      send('P', cstr(stmt) ++ cstr(sql) ++ i16(oids.length) ++ oids.flatMap(i32))
    def bind(portal: String, stmt: String): Unit =
      send('B', cstr(portal) ++ cstr(stmt) ++ i16(0) ++ i16(0) ++ i16(0))
    def describePortal(name: String): Unit =
      send('D', Array[Byte]('P'.toByte) ++ cstr(name))
    def execute(portal: String, maxRows: Int): Unit =
      send('E', cstr(portal) ++ i32(maxRows))
    def closePortal(name: String): Unit =
      send('C', Array[Byte]('P'.toByte) ++ cstr(name))
    def closeStatement(name: String): Unit =
      send('C', Array[Byte]('S'.toByte) ++ cstr(name))
    def sync(): Seq[(Char, Array[Byte])] = { send('S', Array.empty); drainUntilReady() }
    def simpleQuery(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql)); drainUntilReady()
    }

    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        msgs += ((tpe, payload))
        if (tpe == 'Z') done = true
      }
      msgs.toSeq
    }

    /** Messages until the peer closes the stream (for fatal paths). */
    def drainUntilClose(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
      try {
        while (true) {
          val tpe = in.readByte().toChar
          val len = in.readInt()
          val payload = new Array[Byte](len - 4)
          in.readFully(payload)
          msgs += ((tpe, payload))
        }
      } catch { case _: EOFException => }
      msgs.toSeq
    }

    /** SQLSTATE ('C' field) of an ErrorResponse payload. */
    def sqlState(payload: Array[Byte]): String = errorField(payload, 'C')

    /** One field of an ErrorResponse payload ("" when absent). */
    def errorField(payload: Array[Byte], field: Char): String = {
      val b = ByteBuffer.wrap(payload)
      var out = ""
      var tag = b.get()
      while (tag != 0) {
        val sb = new StringBuilder
        var c = b.get()
        while (c != 0) { sb.append(c.toChar); c = b.get() }
        if (tag == field) out = sb.toString
        tag = b.get()
      }
      out
    }

    def types(msgs: Seq[(Char, Array[Byte])]): String = msgs.map(_._1).mkString

    def close(): Unit = { try send('X', Array.empty) catch { case _: Throwable => }; sock.close() }
  }

  private def withClient[A](f: RawClient => A): A = {
    val c = new RawClient
    c.connect()
    try f(c) finally c.close()
  }

  test("oversized frame: one ErrorResponse, connection closed, server survives") {
    val c = new RawClient
    c.connect()
    // claims 80 MB — past the 64 MB frame cap; no body follows
    c.sendHeaderOnly('Q', 80 << 20)
    val msgs = c.drainUntilClose()
    assert(msgs.exists(_._1 == 'E'),
      s"oversized frame must answer ErrorResponse, got: ${c.types(msgs)}")
    assert(!msgs.exists(_._1 == 'Z'),
      "a fatal frame error must not hand the connection back (no ReadyForQuery)")
    // the server itself is unharmed: a fresh connection executes normally
    withClient { c2 =>
      val reply = c2.simpleQuery("SELECT 1")
      assert(reply.exists(_._1 == 'D'), "fresh connection must still serve queries")
    }
  }

  test("Bind to a dropped prepared statement: 26000, batch discarded, connection continues") {
    withClient { c =>
      c.parse("S_dead", "SELECT 42 AS v")
      c.sync()
      c.closeStatement("S_dead")
      c.sync()
      // pipelined batch against the now-dropped statement
      c.bind("", "S_dead")
      c.describePortal("")
      c.execute("", 0)
      val msgs = c.sync()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.size == 1, s"exactly one ErrorResponse, got: ${c.types(msgs)}")
      assert(c.sqlState(errs.head._2) == "26000",
        s"dropped statement must answer invalid_sql_statement_name, got ${c.sqlState(errs.head._2)}")
      assert(!msgs.exists(m => m._1 == 'D' || m._1 == 'C'),
        s"no data/complete after the error: ${c.types(msgs)}")
      // connection still usable
      val ok = c.simpleQuery("SELECT 7 AS v")
      assert(ok.exists(_._1 == 'D'), "connection must continue after Sync")
    }
  }

  test("mid-pipeline error: one ErrorResponse, everything until Sync discarded") {
    withClient { c =>
      c.parse("", "SELEC syntax_error FROM nowhere") // bad SQL
      c.bind("", "")
      c.describePortal("")
      c.execute("", 0)
      c.execute("", 0) // a second Execute in the same dead batch
      val msgs = c.sync()
      assert(msgs.count(_._1 == 'E') == 1,
        s"exactly one ErrorResponse for the whole dead batch: ${c.types(msgs)}")
      assert(msgs.count(_._1 == 'Z') == 1, "one ReadyForQuery at Sync")
      assert(!msgs.exists(m => m._1 == 'D' || m._1 == 'C' || m._1 == 'T'),
        s"no rows, tags, or row descriptions from a dead batch: ${c.types(msgs)}")
      // and the very next batch on the same connection is clean
      c.parse("", "SELECT 3 AS v")
      c.bind("", "")
      c.describePortal("")
      c.execute("", 0)
      val ok = c.sync()
      assert(ok.exists(_._1 == 'D') && ok.exists(_._1 == 'C'),
        s"post-error batch must run cleanly: ${c.types(ok)}")
    }
  }

  test("Describe on a closed portal: 34000, recovers at Sync") {
    withClient { c =>
      c.parse("S_p", "SELECT 1 AS v")
      c.bind("port1", "S_p")
      c.sync()
      c.closePortal("port1")
      c.sync()
      c.describePortal("port1")
      val msgs = c.sync()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.size == 1, s"one ErrorResponse: ${c.types(msgs)}")
      assert(c.sqlState(errs.head._2) == "34000",
        s"closed portal must answer invalid_cursor_name, got ${c.sqlState(errs.head._2)}")
      val ok = c.simpleQuery("SELECT 5 AS v")
      assert(ok.exists(_._1 == 'D'), "connection must continue")
    }
  }

  test("Execute on a never-bound portal: 34000") {
    withClient { c =>
      c.execute("no_such_portal", 0)
      val msgs = c.sync()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.size == 1, s"one ErrorResponse: ${c.types(msgs)}")
      assert(c.sqlState(errs.head._2) == "34000",
        s"unknown portal must answer invalid_cursor_name, got ${c.sqlState(errs.head._2)}")
    }
  }

  test("unknown frontend message type: protocol error, connection not wedged") {
    withClient { c =>
      c.send('z', Array.empty)
      val msgs = c.drainUntilReady()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.nonEmpty, s"unknown type must answer ErrorResponse: ${c.types(msgs)}")
      assert(c.sqlState(errs.head._2) == "08P01",
        s"protocol violation code expected, got ${c.sqlState(errs.head._2)}")
      val ok = c.simpleQuery("SELECT 9 AS v")
      assert(ok.exists(_._1 == 'D'), "connection must continue after the protocol error")
    }
  }

  /** Send one extended-protocol frame, Sync, and return the (SQLSTATE,
    * message) of the one ErrorResponse; then `SELECT 1` must still answer
    * on the same connection.
    */
  private def errorThenUsable(c: RawClient)(frame: => Unit): (String, String) = {
    frame
    val msgs = c.sync()
    val errs = msgs.filter(_._1 == 'E')
    assert(errs.size == 1, s"one ErrorResponse: ${c.types(msgs)}")
    val ok = c.simpleQuery("SELECT 1")
    assert(ok.exists(_._1 == 'D'), s"connection must continue: ${c.types(ok)}")
    (c.sqlState(errs.head._2), c.errorField(errs.head._2, 'M'))
  }

  private val Truncated = ("08P01", "insufficient data left in message")

  test("truncated fields answer 08P01 insufficient data, connection continues") {
    withClient { c =>
      // Parse whose query text has no terminating NUL
      assert(errorThenUsable(c)(
        c.send('P', c.cstr("") ++ "SELECT 1".getBytes(UTF_8))) === Truncated)
      // Bind whose parameter length runs past the end of the frame
      c.parse("S_t", "SELECT $1 AS v")
      c.sync()
      assert(errorThenUsable(c)(c.send('B', c.cstr("") ++ c.cstr("S_t") ++ c.i16(0) ++
        c.i16(1) ++ c.i32(100) ++ "12".getBytes(UTF_8) ++ c.i16(0))) === Truncated)
      // Bind parameter length below -1
      assert(errorThenUsable(c)(c.send('B', c.cstr("") ++ c.cstr("S_t") ++ c.i16(0) ++
        c.i16(1) ++ c.i32(-2) ++ c.i16(0))) === Truncated)
    }
  }

  test("binary Bind values of fixed-width types must be exactly their width") {
    withClient { c =>
      // Parse `SELECT $1` typed `oid`, Bind `value` in binary, Execute
      def bindBinary(oid: Int, value: Array[Byte]): Unit = {
        c.parse("", "SELECT $1 AS v", Seq(oid))
        c.send('B', c.cstr("") ++ c.cstr("") ++ c.i16(1) ++ c.i16(1) ++
          c.i16(1) ++ c.i32(value.length) ++ value ++ c.i16(0))
        c.execute("", 0)
      }
      def int8Bytes(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
      val leftOver = ("22P03", "incorrect binary data format in bind parameter 1")
      // an 8-byte value for an INT4 parameter bound its first 4 bytes
      assert(errorThenUsable(c)(bindBinary(PgTypes.INT4, int8Bytes(5))) === leftOver)
      assert(errorThenUsable(c)(bindBinary(PgTypes.BOOL, Array[Byte](1, 0))) === leftOver)
      assert(errorThenUsable(c)(bindBinary(PgTypes.FLOAT4, int8Bytes(5))) === leftOver)
      // a short value reads past its end
      assert(errorThenUsable(c)(bindBinary(PgTypes.INT4, Array[Byte](0, 5))) === Truncated)
      assert(errorThenUsable(c)(bindBinary(PgTypes.BOOL, Array.empty)) === Truncated)
      assert(errorThenUsable(c)(bindBinary(PgTypes.TIMESTAMP, c.i32(7))) === Truncated)
      // exact widths still bind
      bindBinary(PgTypes.INT8, int8Bytes(5))
      val ok = c.sync()
      assert(!ok.exists(_._1 == 'E'), s"exact width must bind: ${c.types(ok)}")
      // DataRow: int16 column count, int32 length, the text value
      assert(ok.filter(_._1 == 'D').map(m => new String(m._2.drop(6), UTF_8)) === Seq("5"))
    }
  }
}
