package graft.pg.server

import java.nio.charset.StandardCharsets.UTF_8

import graft.pg.wire.PgTypes

import io.netty.buffer.ByteBuf
import org.apache.spark.sql.types.StructType

/** Server-side PostgreSQL V3 message encoders (reference
  * protocol.scala:66-300). Each writes [type:1][len:4][payload] onto a
  * Netty buffer; `len` covers itself plus the payload.
  */
object PgMessages {

  private def msg(buf: ByteBuf, tpe: Char)(body: ByteBuf => Unit): Unit = {
    buf.writeByte(tpe)
    val lenAt = buf.writerIndex()
    buf.writeInt(0)
    body(buf)
    buf.setInt(lenAt, buf.writerIndex() - lenAt)
  }

  private def cstr(buf: ByteBuf, s: String): Unit = {
    buf.writeBytes(s.getBytes(UTF_8)); buf.writeByte(0)
  }

  def authenticationOk(buf: ByteBuf): Unit = msg(buf, 'R')(_.writeInt(0))

  /** AuthenticationCleartextPassword: ask the client for a 'p' message. */
  def authenticationCleartextPassword(buf: ByteBuf): Unit = msg(buf, 'R')(_.writeInt(3))

  /** AuthenticationMD5Password: code 5 + the 4-byte challenge salt. */
  def authenticationMD5Password(buf: ByteBuf, salt: Array[Byte]): Unit =
    msg(buf, 'R') { b => b.writeInt(5); b.writeBytes(salt) }

  /** AuthenticationSASL: code 10 + NUL-terminated mechanism names + NUL. */
  def authenticationSASL(buf: ByteBuf, mechanisms: Seq[String]): Unit =
    msg(buf, 'R') { b =>
      b.writeInt(10)
      mechanisms.foreach { m => b.writeBytes(m.getBytes(UTF_8)); b.writeByte(0) }
      b.writeByte(0)
    }

  /** AuthenticationSASLContinue: code 11 + SASL data (server-first). */
  def authenticationSASLContinue(buf: ByteBuf, data: Array[Byte]): Unit =
    msg(buf, 'R') { b => b.writeInt(11); b.writeBytes(data) }

  /** AuthenticationSASLFinal: code 12 + SASL data (server-final v=). */
  def authenticationSASLFinal(buf: ByteBuf, data: Array[Byte]): Unit =
    msg(buf, 'R') { b => b.writeInt(12); b.writeBytes(data) }

  /** NotificationResponse 'A': async LISTEN/NOTIFY delivery — legal at any
    * message boundary, clients dispatch it out of band.
    */
  def notificationResponse(buf: ByteBuf, senderPid: Int, channel: String,
      payload: String): Unit = msg(buf, 'A') { b =>
    b.writeInt(senderPid); cstr(b, channel); cstr(b, payload)
  }

  def parameterStatus(buf: ByteBuf, key: String, value: String): Unit =
    msg(buf, 'S') { b => cstr(b, key); cstr(b, value) }

  /** NegotiateProtocolVersion ('v'): sent when the client requests a 3.x
    * minor above what we speak, or `_pq_.*` protocol options we don't
    * recognize — newest minor supported + the unsupported option names;
    * the connection then proceeds at that downgraded level (PG docs,
    * protocol-flow "Protocol versions").
    */
  def negotiateProtocolVersion(buf: ByteBuf, newestMinor: Int,
      unsupported: Seq[String]): Unit =
    msg(buf, 'v') { b =>
      b.writeInt(newestMinor)
      b.writeInt(unsupported.size)
      unsupported.foreach(cstr(b, _))
    }

  def backendKeyData(buf: ByteBuf, pid: Int, secret: Int): Unit =
    msg(buf, 'K') { b => b.writeInt(pid); b.writeInt(secret) }

  /** status: 'I' idle, 'T' in transaction, 'E' failed transaction */
  def readyForQuery(buf: ByteBuf, status: Char = 'I'): Unit =
    msg(buf, 'Z')(_.writeByte(status))

  def parseComplete(buf: ByteBuf): Unit = msg(buf, '1')(_ => ())
  def bindComplete(buf: ByteBuf): Unit = msg(buf, '2')(_ => ())
  def closeComplete(buf: ByteBuf): Unit = msg(buf, '3')(_ => ())
  def noData(buf: ByteBuf): Unit = msg(buf, 'n')(_ => ())
  def emptyQueryResponse(buf: ByteBuf): Unit = msg(buf, 'I')(_ => ())
  def portalSuspended(buf: ByteBuf): Unit = msg(buf, 's')(_ => ())

  def commandComplete(buf: ByteBuf, tag: String): Unit =
    msg(buf, 'C')(b => cstr(b, tag))

  /** FunctionCallResponse 'V': int32 value length (-1 = NULL) then the value
    * bytes in the requested result format (reference encodes this message at
    * protocol.scala:143-150 but its 'F' handler never sends it).
    */
  def functionCallResponse(buf: ByteBuf, value: Option[Array[Byte]]): Unit =
    msg(buf, 'V') { b =>
      value match {
        case Some(v) => b.writeInt(v.length); b.writeBytes(v)
        case None => b.writeInt(-1)
      }
    }

  /** reference protocol.scala:171-200: name, table oid, attnum, type oid,
    * typlen, typmod, format code per column.
    */
  def rowDescription(buf: ByteBuf, schema: StructType, binary: Seq[Boolean]): Unit =
    msg(buf, 'T') { b =>
      b.writeShort(schema.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val oid = PgTypes.oidOf(f.dataType)
        cstr(b, f.name)
        b.writeInt(0) // table oid (none)
        b.writeShort(0) // attribute number
        b.writeInt(oid)
        b.writeShort(PgTypes.typeLenOf(oid))
        b.writeInt(-1) // typmod
        b.writeShort(if (binary(i)) 1 else 0)
      }
    }

  def parameterDescription(buf: ByteBuf, oids: Seq[Int]): Unit =
    msg(buf, 't') { b =>
      b.writeShort(oids.length)
      oids.foreach(b.writeInt)
    }

  /** CopyInResponse 'G': overall format (0 text / 1 binary) + matching
    * per-column format codes.
    */
  def copyInResponse(buf: ByteBuf, nCols: Int, binary: Boolean = false): Unit =
    msg(buf, 'G') { b =>
      val f = if (binary) 1 else 0
      b.writeByte(f); b.writeShort(nCols)
      (0 until nCols).foreach(_ => b.writeShort(f))
    }

  /** CopyOutResponse 'H' (same payload shape as CopyInResponse). */
  def copyOutResponse(buf: ByteBuf, nCols: Int, binary: Boolean = false): Unit =
    msg(buf, 'H') { b =>
      val f = if (binary) 1 else 0
      b.writeByte(f); b.writeShort(nCols)
      (0 until nCols).foreach(_ => b.writeShort(f))
    }

  /** CopyData 'd' carrying the buffer's remaining bytes. */
  def copyData(buf: ByteBuf, bytes: java.nio.ByteBuffer): Unit =
    msg(buf, 'd')(_.writeBytes(bytes))

  def copyDone(buf: ByteBuf): Unit = msg(buf, 'c')(_ => ())

  /** severity + SQLSTATE + message, plus the optional 'P' position field
    * (1-based character offset into the statement) psql uses to print its
    * caret under syntax errors (reference protocol.scala:250-262 carries
    * only S/C/M).
    */
  def errorResponse(buf: ByteBuf, message: String, sqlState: String = "XX000",
      position: Option[Int] = None): Unit =
    msg(buf, 'E') { b =>
      b.writeByte('S'); cstr(b, "ERROR")
      b.writeByte('C'); cstr(b, sqlState)
      b.writeByte('M'); cstr(b, if (message == null) "unknown error" else message)
      position.foreach { p => b.writeByte('P'); cstr(b, p.toString) }
      b.writeByte(0)
    }
}
