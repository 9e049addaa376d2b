package graft.pg.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** A raw PG V3 client for the wire suites: one frame per call, and
  * [[WireClient.Msgs]] read back up to ReadyForQuery.
  */
class WireClient(port: Int) {
  import WireClient.Msgs

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

  /** Parse declaring one parameter type per oid. */
  def parse(stmt: String, sql: String, oids: Seq[Int] = Nil): Unit =
    send('P', cstr(stmt) ++ cstr(sql) ++ i16(oids.length) ++ oids.flatMap(i32))
  /** Bind text params; a null param binds SQL NULL. */
  def bind(portal: String, stmt: String, params: Seq[String] = Nil): Unit =
    send('B', cstr(portal) ++ cstr(stmt) ++ i16(0) ++ i16(params.length) ++
      params.flatMap { p =>
        if (p == null) i32(-1).toSeq else { val b = p.getBytes(UTF_8); i32(b.length) ++ b }
      } ++ i16(0))
  def describePortal(portal: String): Unit = send('D', Array('P'.toByte) ++ cstr(portal))
  def describeStatement(stmt: String): Unit = send('D', Array('S'.toByte) ++ cstr(stmt))
  def execute(portal: String, maxRows: Int = 0): Unit = send('E', cstr(portal) ++ i32(maxRows))
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

  def close(): Unit = { send('X', Array.empty); sock.close() }
}

object WireClient {
  type Msgs = Seq[(Char, Array[Byte])]

  def withClient[A](port: Int)(f: WireClient => A): A = {
    val c = new WireClient(port)
    c.connect()
    try f(c) finally c.close()
  }

  private def str(b: ByteBuffer): String = {
    val sb = new StringBuilder
    var c = b.get()
    while (c != 0) { sb.append(c.toChar); c = b.get() }
    sb.toString
  }
  def types(m: Msgs): String = m.map(_._1).mkString
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
  /** The parameter type oids of the first ParameterDescription. */
  def paramTypes(m: Msgs): Seq[Int] = m.filter(_._1 == 't').take(1).flatMap { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    Seq.fill(b.getShort.toInt)(b.getInt)
  }
  def paramStatuses(m: Msgs): Seq[(String, String)] =
    m.filter(_._1 == 'S').map { case (_, p) => val b = ByteBuffer.wrap(p); (str(b), str(b)) }
  /** (SQLSTATE, message) of the first ErrorResponse, if any. */
  def error(m: Msgs): Option[(String, String)] = m.find(_._1 == 'E').map { case (_, p) =>
    val b = ByteBuffer.wrap(p)
    val fields = Iterator.continually(b.get()).takeWhile(_ != 0)
      .map(tag => tag.toChar -> str(b)).toMap
    (fields('C'), fields('M'))
  }
}
