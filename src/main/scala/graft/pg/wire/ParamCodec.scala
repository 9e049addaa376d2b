package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneId, ZoneOffset}

import graft.pg.server.PgStateException

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.DateTimeUtils.{instantToMicros, microsToLocalDateTime}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decode PG values into Catalyst Literals by (oid, format): `Bind`
  * parameters and binary `COPY FROM` fields (reference
  * converters.scala:39-102). Extends the reference with the date/timestamp
  * binds its TODO left out (converters.scala:95), and with bytea.
  *
  * Malformed text for a boolean, numeric or bytea oid fails as PG's input
  * functions do: SQLSTATE 22P02 (22003 for an integer out of range).
  * Surrounding whitespace is ignored for every non-string type. A binary
  * value of a fixed-width type with bytes left over fails 22P03; one too
  * short reads past its end. An oid with no decoder here throws an
  * `IllegalArgumentException`; see [[decodeOrText]].
  */
object ParamCodec {

  type Decoder = Array[Byte] => Literal

  /** format: 0 = text, 1 = binary. TIMESTAMP (1114) carries wall-clock
    * time, read as an instant in `zone` — the session zone RowCodec
    * renders it in.
    */
  def decode(param: Array[Byte], oid: Int, format: Int,
      zone: ZoneId = ZoneOffset.UTC): Literal = decoder(oid, format, zone)(param)

  /** The decoder for one (oid, format), resolved once per column or
    * parameter; throws for a pair with none.
    */
  def decoder(oid: Int, format: Int, zone: ZoneId): Decoder = {
    val read: Decoder = (oid, format) match {
      case (PgTypes.BOOL, 0) => p => Literal(bool(text(p)), BooleanType)
      case (PgTypes.BOOL, 1) => p => Literal(ByteBuffer.wrap(p).get() != 0, BooleanType)
      case (PgTypes.INT2, 0) => p =>
        Literal(integral(text(p), "smallint", Short.MinValue, Short.MaxValue).toShort, ShortType)
      case (PgTypes.INT2, 1) => p => Literal(ByteBuffer.wrap(p).getShort, ShortType)
      case (PgTypes.INT4, 0) => p =>
        Literal(integral(text(p), "integer", Int.MinValue, Int.MaxValue).toInt, IntegerType)
      case (PgTypes.INT4, 1) => p => Literal(ByteBuffer.wrap(p).getInt, IntegerType)
      case (PgTypes.INT8, 0) => p =>
        Literal(integral(text(p), "bigint", Long.MinValue, Long.MaxValue), LongType)
      case (PgTypes.INT8, 1) => p => Literal(ByteBuffer.wrap(p).getLong, LongType)
      case (PgTypes.FLOAT4, 0) => p => Literal(floatText(text(p), "real").toFloat, FloatType)
      case (PgTypes.FLOAT4, 1) => p => Literal(ByteBuffer.wrap(p).getFloat, FloatType)
      case (PgTypes.FLOAT8, 0) => p =>
        Literal(floatText(text(p), "double precision").toDouble, DoubleType)
      case (PgTypes.FLOAT8, 1) => p => Literal(ByteBuffer.wrap(p).getDouble, DoubleType)
      case (PgTypes.NUMERIC, 0) => p =>
        val s = text(p)
        numeric(try BigDecimal(s.trim)
          catch { case _: NumberFormatException => throw invalid("numeric", s) })
      case (PgTypes.NUMERIC, 1) => p => numeric(BigDecimal(PgNumeric.fromBytes(p)))
      case (PgTypes.VARCHAR | 25 | 705 | 1042, _) => // varchar/text/unknown/bpchar
        p => Literal(UTF8String.fromBytes(p), StringType)
      case (PgTypes.BYTEA, 0) => p => Literal(bytea(p), BinaryType)
      case (PgTypes.BYTEA, 1) => p => Literal(p, BinaryType)
      case (PgTypes.DATE, 0) => p =>
        Literal(java.time.LocalDate.parse(text(p).trim).toEpochDay.toInt, DateType)
      case (PgTypes.DATE, 1) => p =>
        Literal(ByteBuffer.wrap(p).getInt + PgTypes.PG_EPOCH_DAYS, DateType)
      case (PgTypes.TIMESTAMP, 0) => p =>
        timestamp(LocalDateTime.parse(text(p).trim.replace(' ', 'T')), zone)
      case (PgTypes.TIMESTAMP, 1) => p =>
        timestamp(microsToLocalDateTime(ByteBuffer.wrap(p).getLong + PgTypes.PG_EPOCH_MICROS), zone)
      case (PgTypes.UNSPECIFIED, f) =>
        throw new IllegalArgumentException(s"Unspecified type unsupported: format=$f")
      case (o, f) =>
        throw new IllegalArgumentException(s"Cannot bind param: oid=$o, format=$f")
    }
    val width = PgTypes.typeLenOf(oid)
    if (format == 1 && width > 0) p => {
      if (p.length > width) throw new PgStateException("incorrect binary data format", "22P03")
      read(p)
    } else read
  }

  /** [[decode]], except that text it cannot take binds as VARCHAR for
    * Spark's cast to read at execution: text for an oid with no decoder
    * here, and date/timestamp text in a form `java.time` does not parse
    * (Spark's cast accepts more, e.g. a zone offset).
    */
  def decodeOrText(param: Array[Byte], oid: Int, format: Int, zone: ZoneId): Literal =
    try decode(param, oid, format, zone)
    catch {
      case _: IllegalArgumentException | _: java.time.DateTimeException if format == 0 =>
        Literal(UTF8String.fromBytes(param), StringType)
    }

  /** Bind parameter `n` (1-based): [[decodeOrText]], naming the parameter
    * in PG's exec_bind_message wording when a binary value has bytes left
    * over. One too short is answered as 08P01 by the wire error writer.
    */
  def decodeBindParam(param: Array[Byte], oid: Int, format: Int, n: Int, zone: ZoneId): Literal =
    try decodeOrText(param, oid, format, zone)
    catch {
      case e: PgStateException if e.state == "22P03" =>
        throw new PgStateException(s"${e.getMessage} in bind parameter $n", "22P03")
    }

  private def text(b: Array[Byte]): String = new String(b, UTF_8)

  private def invalid(pgType: String, s: String) =
    new PgStateException(s"""invalid input syntax for type $pgType: "$s"""", "22P02")

  private def numeric(v: BigDecimal): Literal = {
    val d = Decimal(v)
    Literal(d, DecimalType(Math.max(d.precision, d.scale), d.scale))
  }

  /** A wall-clock time as the instant it names in `zone`; a DST-gap time
    * moves forward by the gap, as Spark's cast moves it.
    */
  private def timestamp(wall: LocalDateTime, zone: ZoneId): Literal =
    Literal(instantToMicros(wall.atZone(zone).toInstant), TimestampType)

  /** PG's boolin: a prefix of true/false/yes/no, on/off, 1/0, any case. */
  private def bool(s: String): Boolean = {
    val t = s.trim.toLowerCase
    def prefixOf(word: String, min: Int) = t.length >= min && word.startsWith(t)
    if (prefixOf("true", 1) || prefixOf("yes", 1) || prefixOf("on", 2) || t == "1") true
    else if (prefixOf("false", 1) || prefixOf("no", 1) || prefixOf("off", 2) || t == "0") false
    else throw invalid("boolean", s)
  }

  /** PG's byteain: `\x` then hex digit pairs (blanks between pairs), or
    * the escape format, where `\\` is a backslash and `\ooo` an octal byte.
    */
  private def bytea(b: Array[Byte]): Array[Byte] = {
    val s = text(b)
    if (s.startsWith("\\x")) {
      val hex = s.substring(2).filterNot(_.isWhitespace)
      try java.util.HexFormat.of.parseHex(hex)
      catch { case _: IllegalArgumentException => throw invalid("bytea", s) }
    } else {
      val out = new java.io.ByteArrayOutputStream(b.length)
      def octal(i: Int) = i + 3 < b.length && (1 to 3).forall(k => b(i + k) >= '0' &&
        b(i + k) <= (if (k == 1) '3' else '7'))
      var i = 0
      while (i < b.length) {
        if (b(i) != '\\') { out.write(b(i)); i += 1 }
        else if (i + 1 < b.length && b(i + 1) == '\\') { out.write('\\'); i += 2 }
        else if (octal(i)) { out.write(Integer.parseInt(new String(b, i + 1, 3, UTF_8), 8)); i += 4 }
        else throw invalid("bytea", s)
      }
      out.toByteArray
    }
  }

  private def integral(s: String, pgType: String, min: Long, max: Long): Long = {
    val t = s.trim
    def outOfRange =
      new PgStateException(s"""value "$s" is out of range for type $pgType""", "22003")
    val v = try t.toLong catch {
      case _: NumberFormatException =>
        throw (if (t.matches("[+-]?[0-9]+")) outOfRange else invalid(pgType, s))
    }
    if (v < min || v > max) throw outOfRange
    v
  }

  /** float4in/float8in text, spelled for Java's parser: NaN and
    * [+-]Infinity/inf in any case; no hex floats or type suffixes.
    */
  private def floatText(s: String, pgType: String): String = s.trim.toLowerCase match {
    case "nan" => "NaN"
    case "infinity" | "+infinity" | "inf" | "+inf" => "Infinity"
    case "-infinity" | "-inf" => "-Infinity"
    case t if t.matches("[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)(e[+-]?[0-9]+)?") => t
    case _ => throw invalid(pgType, s)
  }
}
