package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.util.regex.Pattern

import graft.pg.server.PgStateException

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils.{instantToMicros, microsToLocalDateTime}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decode PG values into Catalyst values by (oid, format): `Bind`
  * parameters, as Literals, and `COPY FROM` fields of every format (reference
  * converters.scala:39-102). Extends the reference with the date/timestamp
  * binds its TODO left out (converters.scala:95), and with bytea.
  *
  * Malformed text for a boolean, numeric or bytea oid fails as PG's input
  * functions do: SQLSTATE 22P02 (22003 for an integer out of range).
  * Surrounding whitespace is ignored for every non-string type. A binary
  * value of a fixed-width type with bytes left over fails 22P03; one too
  * short reads past its end. An oid with no decoder here throws an
  * `IllegalArgumentException`; see [[inputReader]] and [[columnReader]].
  * Values the decoders pass on go through one driver-side Spark cast
  * ([[evalCast]]), for Bind and COPY alike.
  */
object ParamCodec {

  /** bytes to a Catalyst value of the type resolved with the reader */
  type Reader = Array[Byte] => Any

  /** format: 0 = text, 1 = binary. TIMESTAMP (1114) carries wall-clock
    * time, read as an instant in `zone` — the session zone RowCodec
    * renders it in.
    */
  def decode(param: Array[Byte], oid: Int, format: Int,
      zone: ZoneId = ZoneOffset.UTC): Literal = literal(reader(oid, format, zone))(param)

  /** The Catalyst type and value reader for one (oid, format), resolved
    * once per column or parameter; throws for a pair with none. A NUMERIC
    * reads a Decimal of the value's own precision and scale.
    */
  def reader(oid: Int, format: Int, zone: ZoneId): (DataType, Reader) = {
    val (dt, read): (DataType, Reader) = (oid, format) match {
      case (PgTypes.BOOL, 0) => (BooleanType, p => bool(text(p)))
      case (PgTypes.BOOL, 1) => (BooleanType, p => ByteBuffer.wrap(p).get() != 0)
      case (PgTypes.INT2, 0) =>
        (ShortType, p => integral(text(p), "smallint", Short.MinValue, Short.MaxValue).toShort)
      case (PgTypes.INT2, 1) => (ShortType, p => ByteBuffer.wrap(p).getShort)
      case (PgTypes.INT4, 0) =>
        (IntegerType, p => integral(text(p), "integer", Int.MinValue, Int.MaxValue).toInt)
      case (PgTypes.INT4, 1) => (IntegerType, p => ByteBuffer.wrap(p).getInt)
      case (PgTypes.INT8, 0) =>
        (LongType, p => integral(text(p), "bigint", Long.MinValue, Long.MaxValue))
      case (PgTypes.INT8, 1) => (LongType, p => ByteBuffer.wrap(p).getLong)
      case (PgTypes.FLOAT4, 0) => (FloatType, p => floatText(text(p), "real").toFloat)
      case (PgTypes.FLOAT4, 1) => (FloatType, p => ByteBuffer.wrap(p).getFloat)
      case (PgTypes.FLOAT8, 0) =>
        (DoubleType, p => floatText(text(p), "double precision").toDouble)
      case (PgTypes.FLOAT8, 1) => (DoubleType, p => ByteBuffer.wrap(p).getDouble)
      case (PgTypes.NUMERIC, 0) => (DecimalType.SYSTEM_DEFAULT, p => {
        val s = text(p)
        Decimal(try BigDecimal(s.trim)
          catch { case _: NumberFormatException => throw invalid("numeric", s) })
      })
      case (PgTypes.NUMERIC, 1) =>
        (DecimalType.SYSTEM_DEFAULT, p => Decimal(BigDecimal(PgNumeric.fromBytes(p))))
      case (PgTypes.VARCHAR | 25 | 705 | 1042, _) => (StringType, asText) // varchar/text/unknown/bpchar
      case (PgTypes.BYTEA, 0) => (BinaryType, bytea)
      case (PgTypes.BYTEA, 1) => (BinaryType, p => p)
      case (PgTypes.DATE, 0) =>
        (DateType, p => java.time.LocalDate.parse(text(p).trim).toEpochDay.toInt)
      case (PgTypes.DATE, 1) => (DateType, p => ByteBuffer.wrap(p).getInt + PgTypes.PG_EPOCH_DAYS)
      case (PgTypes.TIMESTAMP, 0) =>
        (TimestampType, p => timestamp(LocalDateTime.parse(text(p).trim.replace(' ', 'T')), zone))
      case (PgTypes.TIMESTAMP, 1) => (TimestampType, p =>
        timestamp(microsToLocalDateTime(ByteBuffer.wrap(p).getLong + PgTypes.PG_EPOCH_MICROS), zone))
      case (PgTypes.UNSPECIFIED, f) =>
        throw new IllegalArgumentException(s"Unspecified type unsupported: format=$f")
      case (o, f) =>
        throw new IllegalArgumentException(s"Cannot bind param: oid=$o, format=$f")
    }
    val width = PgTypes.typeLenOf(oid)
    if (format == 1 && width > 0) (dt, p => {
      if (p.length > width) throw new PgStateException("incorrect binary data format", "22P03")
      read(p)
    }) else (dt, read)
  }

  /** The reader of a Bind parameter or COPY FROM field: [[reader]],
    * except that text it cannot take reads as its UTF8String, for Spark's
    * cast to read: text for an oid with no reader here (whose type is then
    * StringType), and date/timestamp text in a form `java.time` does not
    * parse (Spark's cast accepts more, e.g. a zone offset).
    */
  def inputReader(oid: Int, format: Int, zone: ZoneId): (DataType, Reader) =
    if (format != 0) reader(oid, format, zone)
    else {
      val (dt, read) =
        try reader(oid, 0, zone) catch { case _: IllegalArgumentException => (StringType, asText) }
      (dt, p => try read(p) catch {
        case _: IllegalArgumentException | _: java.time.DateTimeException => asText(p)
      })
    }

  /** The reader of a COPY FROM field into a column of type `dt`:
    * [[inputReader]] for the column's oid, its value fitted to `dt` as an
    * INSERT's store assignment would. A decimal is rounded to the column's
    * precision and scale (22003 on overflow); a value of another type (a
    * tinyint, an interval's text, a collated string) or a fallback string
    * goes through Spark's ANSI cast, resolved here once ([[evalCast]]). A
    * TIMESTAMP_NTZ column reads in UTC, where a wall-clock time is its own
    * instant, so its micros stay exact. Throws for a type with no reader or
    * cast.
    */
  def columnReader(dt: DataType, format: Int, zone: ZoneId): Reader = {
    def unsupported = new IllegalArgumentException(s"COPY FROM unsupported for column type $dt")
    val ntz = dt == TimestampNTZType
    val (readType, read) = try inputReader(PgTypes.oidOf(dt), format,
        if (ntz) ZoneOffset.UTC else zone) catch { case _: IllegalArgumentException => throw unsupported }
    dt match {
      case d: DecimalType => p => { // a new Decimal of the value's own precision
        val v = read(p).asInstanceOf[Decimal]
        if (v.changePrecision(d.precision, d.scale)) v
        else throw new PgStateException("numeric field overflow", "22003")
      }
      case _ =>
        val castAll = readType != dt && !ntz
        val cast = Cast(BoundReference(0, if (castAll) readType else StringType, nullable = true),
          dt, Some(zone.getId), EvalMode.ANSI)
        if (cast.checkInputDataTypes().isFailure) throw unsupported
        p => read(p) match {
          case v if castAll || readType != StringType && v.isInstanceOf[UTF8String] =>
            evalCast(cast, new GenericInternalRow(Array(v)))
          case v => v
        }
    }
  }

  /** The type a Bind parameter declared as `oid` takes at Parse: the type
    * its text reads as, StringType for an oid with no reader. NUMERIC
    * stays untyped (NullType): its precision and scale come with each
    * value.
    */
  def paramType(oid: Int): DataType =
    if (oid == PgTypes.NUMERIC) NullType else inputReader(oid, 0, ZoneOffset.UTC)._1

  /** `v`, a value of `from`, as a value of `to`: Spark's ANSI cast in
    * `zone`, evaluated here, as [[columnReader]] casts a COPY field.
    */
  def cast(v: Any, from: DataType, to: DataType, zone: ZoneId): Any =
    evalCast(Cast(Literal(v, from), to, Some(zone.getId), EvalMode.ANSI))

  private val IsoDateTime =
    Pattern.compile("\\s*\\d{4,}-\\d{1,2}-\\d{1,2}" +
      "([ T]\\d{1,2}:\\d{1,2}(:\\d{1,2}(\\.\\d*)?)?)?\\s*")

  /** `cast` evaluated over `row`. Text it refuses as a date or timestamp
    * fails as PG's datetime input does: 22008 when the text has the ISO
    * shape but names no such day or time (`2024-02-30`), else 22007.
    */
  def evalCast(cast: Cast, row: InternalRow = null): Any =
    try cast.eval(row) catch {
      case e: SparkThrowable if e.getCondition == "CAST_INVALID_INPUT" &&
          cast.child.dataType == StringType =>
        val text = String.valueOf(cast.child.eval(row))
        val pgType = cast.dataType match {
          case DateType => "date"
          case TimestampType | TimestampNTZType => "timestamp"
          case _ => throw e
        }
        throw (if (IsoDateTime.matcher(text).matches)
          new PgStateException(s"""date/time field value out of range: "$text"""", "22008")
          else new PgStateException(s"""invalid input syntax for type $pgType: "$text"""", "22007"))
    }

  private val asText: Reader = p => UTF8String.fromBytes(p)

  /** A reader's values as Literals: a UTF8String binds as VARCHAR, a
    * Decimal with its own precision and scale.
    */
  private def literal(r: (DataType, Reader)): Array[Byte] => Literal = p => r._2(p) match {
    case s: UTF8String => Literal(s, StringType)
    case d: Decimal => Literal(d, DecimalType(Math.max(d.precision, d.scale), d.scale))
    case v => Literal(v, r._1)
  }

  /** Bind parameter `n` (1-based): [[inputReader]], naming the parameter
    * in PG's exec_bind_message wording when a binary value has bytes left
    * over. One too short is answered as 08P01 by the wire error writer.
    */
  def decodeBindParam(param: Array[Byte], oid: Int, format: Int, n: Int, zone: ZoneId): Literal =
    try literal(inputReader(oid, format, zone))(param)
    catch {
      case e: PgStateException if e.state == "22P03" =>
        throw new PgStateException(s"${e.getMessage} in bind parameter $n", "22P03")
    }

  private def text(b: Array[Byte]): String = new String(b, UTF_8)

  private def invalid(pgType: String, s: String) =
    new PgStateException(s"""invalid input syntax for type $pgType: "$s"""", "22P02")

  /** A wall-clock time as the instant it names in `zone`; a DST-gap time
    * moves forward by the gap, as Spark's cast moves it.
    */
  private def timestamp(wall: LocalDateTime, zone: ZoneId): Long =
    instantToMicros(wall.atZone(zone).toInstant)

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

  private val IntegerSyntax = Pattern.compile("[+-]?[0-9]+")
  private val FloatSyntax = Pattern.compile("[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)(e[+-]?[0-9]+)?")

  private def integral(s: String, pgType: String, min: Long, max: Long): Long = {
    val t = s.trim
    def outOfRange =
      new PgStateException(s"""value "$s" is out of range for type $pgType""", "22003")
    val v = try t.toLong catch {
      case _: NumberFormatException =>
        throw (if (IntegerSyntax.matcher(t).matches) outOfRange else invalid(pgType, s))
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
    case t if FloatSyntax.matcher(t).matches => t
    case _ => throw invalid(pgType, s)
  }
}
