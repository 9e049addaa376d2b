package graft.pg.server

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

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
  import WireClient._

  private var server: PgWireServer = _
  private def port: Int = server.boundPort

  override def beforeAll(): Unit = {
    server = new PgWireServer(TestSpark.spark, port = 0)
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def withClient[A](f: WireClient => A): A = WireClient.withClient(port, 30000)(f)

  test("oversized frame: one ErrorResponse, connection closed, server survives") {
    val c = new WireClient(port, 30000)
    c.connect()
    // claims 80 MB — past the 64 MB frame cap; no body follows
    c.write(Array('Q'.toByte) ++ c.i32(80 << 20))
    val msgs = c.drainToClose()
    assert(msgs.exists(_._1 == 'E'),
      s"oversized frame must answer ErrorResponse, got: ${types(msgs)}")
    assert(!msgs.exists(_._1 == 'Z'),
      "a fatal frame error must not hand the connection back (no ReadyForQuery)")
    // the server itself is unharmed: a fresh connection executes normally
    withClient { c2 =>
      val reply = c2.simple("SELECT 1")
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
      assert(errs.size == 1, s"exactly one ErrorResponse, got: ${types(msgs)}")
      assert(error(msgs).map(_._1) === Some("26000"),
        "dropped statement must answer invalid_sql_statement_name")
      assert(!msgs.exists(m => m._1 == 'D' || m._1 == 'C'),
        s"no data/complete after the error: ${types(msgs)}")
      // connection still usable
      val ok = c.simple("SELECT 7 AS v")
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
        s"exactly one ErrorResponse for the whole dead batch: ${types(msgs)}")
      assert(msgs.count(_._1 == 'Z') == 1, "one ReadyForQuery at Sync")
      assert(!msgs.exists(m => m._1 == 'D' || m._1 == 'C' || m._1 == 'T'),
        s"no rows, tags, or row descriptions from a dead batch: ${types(msgs)}")
      // and the very next batch on the same connection is clean
      c.parse("", "SELECT 3 AS v")
      c.bind("", "")
      c.describePortal("")
      c.execute("", 0)
      val ok = c.sync()
      assert(ok.exists(_._1 == 'D') && ok.exists(_._1 == 'C'),
        s"post-error batch must run cleanly: ${types(ok)}")
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
      assert(errs.size == 1, s"one ErrorResponse: ${types(msgs)}")
      assert(error(msgs).map(_._1) === Some("34000"),
        "closed portal must answer invalid_cursor_name")
      val ok = c.simple("SELECT 5 AS v")
      assert(ok.exists(_._1 == 'D'), "connection must continue")
    }
  }

  test("Execute on a never-bound portal: 34000") {
    withClient { c =>
      c.execute("no_such_portal", 0)
      val msgs = c.sync()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.size == 1, s"one ErrorResponse: ${types(msgs)}")
      assert(error(msgs).map(_._1) === Some("34000"),
        "unknown portal must answer invalid_cursor_name")
    }
  }

  test("unknown frontend message type: protocol error, connection not wedged") {
    withClient { c =>
      c.send('z', Array.empty)
      val msgs = c.drain()
      val errs = msgs.filter(_._1 == 'E')
      assert(errs.nonEmpty, s"unknown type must answer ErrorResponse: ${types(msgs)}")
      assert(error(msgs).map(_._1) === Some("08P01"),
        "protocol violation code expected")
      val ok = c.simple("SELECT 9 AS v")
      assert(ok.exists(_._1 == 'D'), "connection must continue after the protocol error")
    }
  }

  /** Send one extended-protocol frame, Sync, and return the (SQLSTATE,
    * message) of the one ErrorResponse; then `SELECT 1` must still answer
    * on the same connection.
    */
  private def errorThenUsable(c: WireClient)(frame: => Unit): (String, String) = {
    frame
    val msgs = c.sync()
    val errs = msgs.filter(_._1 == 'E')
    assert(errs.size == 1, s"one ErrorResponse: ${types(msgs)}")
    val ok = c.simple("SELECT 1")
    assert(ok.exists(_._1 == 'D'), s"connection must continue: ${types(ok)}")
    error(msgs).get
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
        c.bindBytes("", "", Seq(value), Seq(1))
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
      assert(!ok.exists(_._1 == 'E'), s"exact width must bind: ${types(ok)}")
      assert(col0(ok) === Seq("5"))
    }
  }
}
