package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** What one extended-protocol round saw, with the client-side arrival time
  * (System.nanoTime) of each reply the server flushes. The server flushes
  * after every message, so these arrival times split a pipelined
  * Parse/Bind/Describe/Execute/Sync round into its server-side phases.
  */
final class Round(val md5: MessageDigest = MessageDigest.getInstance("MD5")) {
  var sent = 0L
  var parseDone = 0L
  var bindDone = 0L
  var describeDone = 0L
  var firstRow = 0L
  var executeDone = 0L
  var ready = 0L
  var rows = 0L
  var bytes = 0L
  var messages = 0
  var suspended = false
  var tag: String = ""
  var error: String = null

  def digest: String = md5.digest().map("%02x".format(_)).mkString
}

/** Minimal blocking PostgreSQL V3 client: startup, simple query, the
  * pgjdbc extended flow (P/B/D/E/S in one write, then E/S rounds on a
  * suspended portal) and COPY FROM STDIN.
  */
final class PgClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val os = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
  private def i16(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
  private def i32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

  private def put(tpe: Char, payload: Array[Byte]): Unit = {
    os.writeByte(tpe)
    os.writeInt(4 + payload.length)
    os.write(payload)
  }

  /** Startup message through ReadyForQuery. */
  def connect(): Unit = {
    val body = cstr("user") ++ cstr("bench") ++ cstr("database") ++ cstr("default") ++
      cstr("application_name") ++ cstr("perfbench") :+ 0.toByte
    os.writeInt(8 + body.length)
    os.writeInt(196608)
    os.write(body)
    os.flush()
    val r = new Round
    read(r)
    if (r.error != null) throw new IllegalStateException(s"startup failed: ${r.error}")
  }

  /** Read messages up to ReadyForQuery, timing and digesting them. */
  def read(r: Round): Unit = {
    var done = false
    while (!done) {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      val now = System.nanoTime()
      r.messages += 1
      r.bytes += len + 1
      tpe match {
        case '1' => r.parseDone = now
        case '2' => r.bindDone = now
        case 'T' | 'n' => r.describeDone = now
        case 'D' =>
          if (r.rows == 0) r.firstRow = now
          r.rows += 1
          r.md5.update(payload)
        case 'C' =>
          r.executeDone = now
          r.tag = new String(payload, 0, payload.length - 1, UTF_8)
        case 's' => r.executeDone = now; r.suspended = true
        case 'I' => r.executeDone = now
        case 'E' => if (r.error == null) r.error = errorText(payload)
        case 'Z' => r.ready = now; done = true
        case _ => ()
      }
    }
  }

  private def errorText(p: Array[Byte]): String = {
    val fields = new String(p, UTF_8).split('\u0000').filter(_.nonEmpty)
    fields.filter(f => f.startsWith("M") || f.startsWith("C")).mkString(" ")
  }

  /** Simple-query ('Q') round. */
  def simple(sql: String): Round = {
    val r = new Round
    r.sent = System.nanoTime()
    put('Q', cstr(sql)); os.flush()
    read(r)
    r
  }

  /** One pipelined Parse/Bind/Describe/Execute/Sync round, as pgjdbc sends
    * it. `params` are text-format values; `binary` asks for binary results;
    * `md`, when given, digests the DataRows of several rounds as one stream.
    */
  def extended(sql: String, params: Seq[String], fetch: Int, binary: Boolean,
      stmt: String = "", portal: String = "", oids: Seq[Int] = Nil,
      md: MessageDigest = null): Round = {
    val r = if (md == null) new Round else new Round(md)
    val bind = new java.io.ByteArrayOutputStream()
    bind.write(cstr(portal)); bind.write(cstr(stmt))
    bind.write(i16(0))
    bind.write(i16(params.size))
    params.foreach { p =>
      if (p == null) bind.write(i32(-1))
      else { val b = p.getBytes(UTF_8); bind.write(i32(b.length)); bind.write(b) }
    }
    if (binary) { bind.write(i16(1)); bind.write(i16(1)) } else bind.write(i16(0))
    r.sent = System.nanoTime()
    put('P', cstr(stmt) ++ cstr(sql) ++ i16(oids.size) ++ oids.flatMap(i32))
    put('B', bind.toByteArray)
    put('D', Array[Byte]('P'.toByte) ++ cstr(portal))
    put('E', cstr(portal) ++ i32(fetch))
    put('S', Array.empty)
    os.flush()
    read(r)
    r
  }

  /** Execute+Sync on a suspended portal; `md` carries the digest on. */
  def resume(portal: String, fetch: Int, md: MessageDigest): Round = {
    val r = new Round(md)
    r.sent = System.nanoTime()
    put('E', cstr(portal) ++ i32(fetch))
    put('S', Array.empty)
    os.flush()
    read(r)
    r
  }

  def closePortal(stmt: String, portal: String): Unit = {
    put('C', Array[Byte]('P'.toByte) ++ cstr(portal))
    put('C', Array[Byte]('S'.toByte) ++ cstr(stmt))
    put('S', Array.empty)
    os.flush()
    read(new Round)
  }

  /** `COPY ... FROM STDIN`: sends `data` in CopyData frames of `frame`
    * bytes, then CopyDone. Returns the round ending at ReadyForQuery.
    */
  def copyIn(sql: String, data: Array[Byte], frame: Int): Round = {
    val r = new Round
    r.sent = System.nanoTime()
    put('Q', cstr(sql)); os.flush()
    val tpe = in.readByte().toChar
    val len = in.readInt()
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    if (tpe != 'G') {
      if (tpe == 'E') r.error = errorText(payload)
      read(r)
      if (r.error == null) r.error = s"expected CopyInResponse, got '$tpe'"
      return r
    }
    var off = 0
    while (off < data.length) {
      val n = math.min(frame, data.length - off)
      os.writeByte('d'); os.writeInt(4 + n); os.write(data, off, n)
      off += n
    }
    put('c', Array.empty)
    os.flush()
    read(r)
    r
  }

  def close(): Unit = {
    try { put('X', Array.empty); os.flush() } catch { case _: Throwable => }
    sock.close()
  }
}
