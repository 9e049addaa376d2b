package graft.pg.server

import java.io.{DataInputStream, EOFException, IOException}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** The raw PG V3 client of every wire suite: one frame per call, raw
  * bytes for hostile input, and [[WireClient.Msgs]] read back up to
  * ReadyForQuery. `timeoutMs` bounds every read, so a wedged server
  * fails a test instead of hanging it.
  */
class WireClient(port: Int, timeoutMs: Int = 60000) {
  import WireClient.Msgs

  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(timeoutMs)
  private val in = new DataInputStream(sock.getInputStream)
  private val os = sock.getOutputStream
  private var keyData = (-1, -1)

  def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
  def i16(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
  def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

  /** The backend pid and secret of the BackendKeyData [[connect]] read. */
  def pid: Int = keyData._1
  def secret: Int = keyData._2

  /** A StartupMessage carrying exactly `params`; reads nothing back. */
  def startup(params: Seq[(String, String)], protocol: Int = 196608): Unit = {
    val body = params.flatMap { case (k, v) => cstr(k) ++ cstr(v) }.toArray :+ 0.toByte
    write(i32(8 + body.length) ++ i32(protocol) ++ body)
  }

  /** Startup as user `graft` on database `default`, `params` replacing or
    * adding to those two; the messages up to ReadyForQuery.
    */
  def connect(params: (String, String)*): Msgs = {
    val base = Seq("user" -> "graft", "database" -> "default")
      .map { case (k, v) => k -> params.toMap.getOrElse(k, v) }
    startup(base ++ params.filterNot(p => base.exists(_._1 == p._1)))
    val m = drain()
    m.find(_._1 == 'K').foreach { case (_, p) =>
      val b = ByteBuffer.wrap(p); keyData = (b.getInt, b.getInt)
    }
    m
  }

  /** `bytes` as they are: no type byte, no length. */
  def write(bytes: Array[Byte]): Unit = os.write(bytes)

  def send(tpe: Char, payload: Array[Byte]): Unit =
    write(Array(tpe.toByte) ++ i32(4 + payload.length) ++ payload)

  /** One byte outside any frame, as the answer to GSSENCRequest. */
  def readByte(): Char = in.readByte().toChar

  /** The next message. */
  def read(): (Char, Array[Byte]) = {
    val tpe = in.readByte().toChar
    val payload = new Array[Byte](in.readInt() - 4)
    in.readFully(payload)
    (tpe, payload)
  }

  /** Hands each message to `onMsg`, up to and including ReadyForQuery or
    * the first `stopAt` message type, and keeps none of them.
    */
  def drain(onMsg: ((Char, Array[Byte])) => Unit, stopAt: Char): Unit = {
    var tpe = ' '
    while (tpe != 'Z' && tpe != stopAt) { val m = read(); onMsg(m); tpe = m._1 }
  }

  /** messages up to and including ReadyForQuery, or up to the first
    * `stopAt` message type (CopyInResponse leaves no ReadyForQuery)
    */
  def drain(stopAt: Char = 'Z'): Msgs = {
    val out = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
    drain(out += _, stopAt)
    out.toSeq
  }

  /** Messages until the server closes the connection. */
  def drainToClose(): Msgs = {
    val out = mutable.ArrayBuffer.empty[(Char, Array[Byte])]
    try while (true) out += read() catch { case _: EOFException => }
    out.toSeq
  }

  def simple(sql: String): Msgs = { send('Q', cstr(sql)); drain() }

  /** Parse declaring one parameter type per oid. */
  def parse(stmt: String, sql: String, oids: Seq[Int] = Nil): Unit =
    send('P', cstr(stmt) ++ cstr(sql) ++ i16(oids.length) ++ oids.flatMap(i32))
  /** Bind text params; a null param binds SQL NULL. */
  def bind(portal: String, stmt: String, params: Seq[String] = Nil,
      resultFormats: Seq[Int] = Nil): Unit =
    bindBytes(portal, stmt, params.map(p => if (p == null) null else p.getBytes(UTF_8)), Nil,
      resultFormats)
  /** Bind raw param bytes with per-param format codes (none = all text). */
  def bindBytes(portal: String, stmt: String, params: Seq[Array[Byte]], formats: Seq[Int],
      resultFormats: Seq[Int] = Nil): Unit =
    send('B', cstr(portal) ++ cstr(stmt) ++ i16(formats.length) ++ formats.flatMap(i16) ++
      i16(params.length) ++
      params.flatMap(b => if (b == null) i32(-1).toSeq else i32(b.length) ++ b) ++
      i16(resultFormats.length) ++ resultFormats.flatMap(i16))
  def describePortal(portal: String): Unit = send('D', Array('P'.toByte) ++ cstr(portal))
  def describeStatement(stmt: String): Unit = send('D', Array('S'.toByte) ++ cstr(stmt))
  def execute(portal: String, maxRows: Int = 0): Unit = send('E', cstr(portal) ++ i32(maxRows))
  def closePortal(portal: String): Unit = send('C', Array('P'.toByte) ++ cstr(portal))
  def closeStatement(stmt: String): Unit = send('C', Array('S'.toByte) ++ cstr(stmt))
  def sync(): Msgs = { send('S', Array.empty); drain() }

  /** Parse/Bind/Execute/Sync of an unnamed statement, pipelined as pgjdbc
    * sends it.
    */
  def extended(sql: String, params: Seq[String], oids: Seq[Int]): Msgs = {
    parse("", sql, oids)
    bind("", "", params)
    execute("")
    sync()
  }

  /** A CancelRequest for this client's backend, on a connection of its own. */
  def cancel(): Unit = {
    val s = new Socket("127.0.0.1", port)
    try s.getOutputStream.write(i32(16) ++ i32(80877102) ++ i32(pid) ++ i32(secret))
    finally s.close()
  }

  /** Terminate, then close; a connection the server already closed just
    * closes.
    */
  def close(): Unit =
    try send('X', Array.empty) catch { case _: IOException => } finally sock.close()
}

object WireClient {
  type Msgs = Seq[(Char, Array[Byte])]

  /** A client past startup, with `params` as [[WireClient.connect]] takes them. */
  def connected(port: Int, timeoutMs: Int = 60000,
      params: Seq[(String, String)] = Nil): WireClient = {
    val c = new WireClient(port, timeoutMs)
    c.connect(params: _*)
    c
  }

  def withClient[A](port: Int, timeoutMs: Int = 60000, params: Seq[(String, String)] = Nil)(
      f: WireClient => A): A = {
    val c = connected(port, timeoutMs, params)
    try f(c) finally c.close()
  }

  private def str(b: ByteBuffer): String = {
    val start = b.position()
    while (b.get() != 0) ()
    new String(b.array(), start, b.position() - 1 - start, UTF_8)
  }
  def types(m: Msgs): String = m.map(_._1).mkString
  /** CommandComplete tags; `trim` drops the trailing NUL. */
  def commandTags(m: Msgs): Seq[String] =
    m.filter(_._1 == 'C').map(x => new String(x._2, UTF_8).trim)
  def dataRows(m: Msgs): Int = m.count(_._1 == 'D')
  /** Every DataRow as its text fields (null for SQL NULL). */
  def rows(m: Msgs): Seq[Seq[String]] = m.filter(_._1 == 'D').map { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    Seq.fill(b.getShort.toInt) {
      val len = b.getInt
      if (len < 0) null else { val v = new Array[Byte](len); b.get(v); new String(v, UTF_8) }
    }
  }
  def col0(m: Msgs): Seq[String] = rows(m).map(_.head)
  /** (name, type oid, typlen, format code) per column of the first
    * RowDescription.
    */
  def columns(m: Msgs): Seq[(String, Int, Int, Int)] = m.filter(_._1 == 'T').take(1).flatMap {
    case (_, p) =>
      val b = ByteBuffer.wrap(p)
      Seq.fill(b.getShort.toInt) {
        val name = str(b)
        b.getInt; b.getShort // table oid, attnum
        val oid = b.getInt
        val typlen = b.getShort.toInt
        b.getInt // typmod
        (name, oid, typlen, b.getShort.toInt)
      }
  }
  /** The parameter type oids of the first ParameterDescription. */
  def paramTypes(m: Msgs): Seq[Int] = m.filter(_._1 == 't').take(1).flatMap { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    Seq.fill(b.getShort.toInt)(b.getInt)
  }
  def paramStatuses(m: Msgs): Seq[(String, String)] =
    m.filter(_._1 == 'S').map { case (_, p) => val b = ByteBuffer.wrap(p); (str(b), str(b)) }
  /** Every field of the first ErrorResponse, by its one-letter code. */
  def errorFields(m: Msgs): Option[Map[Char, String]] = m.find(_._1 == 'E').map { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    Iterator.continually(b.get()).takeWhile(_ != 0).map(tag => tag.toChar -> str(b)).toMap
  }
  /** (SQLSTATE, message) of the first ErrorResponse, if any. */
  def error(m: Msgs): Option[(String, String)] = errorFields(m).map(f => (f('C'), f('M')))
}
