package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.pg.server.PgStateException

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decode PG `Bind` parameter bytes into Catalyst Literals by (oid, format)
  * (reference converters.scala:39-102). Extends the reference with the
  * date/timestamp binds its TODO left out (converters.scala:95).
  *
  * Malformed text for a boolean or numeric oid fails as PG's input
  * functions do: SQLSTATE 22P02 (22003 for an integer out of range).
  * Surrounding whitespace is ignored for every non-string type. An oid
  * with no decoder here throws an `IllegalArgumentException`; see
  * [[decodeOrText]].
  */
object ParamCodec {

  /** format: 0 = text, 1 = binary */
  def decode(param: Array[Byte], oid: Int, format: Int): Literal = (oid, format) match {
    case (PgTypes.BOOL, 0) => Literal(bool(text(param)), BooleanType)
    case (PgTypes.BOOL, 1) => Literal(ByteBuffer.wrap(param).get() != 0, BooleanType)
    case (PgTypes.INT2, 0) =>
      Literal(integral(text(param), "smallint", Short.MinValue, Short.MaxValue).toShort, ShortType)
    case (PgTypes.INT2, 1) => Literal(ByteBuffer.wrap(param).getShort, ShortType)
    case (PgTypes.INT4, 0) =>
      Literal(integral(text(param), "integer", Int.MinValue, Int.MaxValue).toInt, IntegerType)
    case (PgTypes.INT4, 1) => Literal(ByteBuffer.wrap(param).getInt, IntegerType)
    case (PgTypes.INT8, 0) =>
      Literal(integral(text(param), "bigint", Long.MinValue, Long.MaxValue), LongType)
    case (PgTypes.INT8, 1) => Literal(ByteBuffer.wrap(param).getLong, LongType)
    case (PgTypes.FLOAT4, 0) => Literal(floatText(text(param), "real").toFloat, FloatType)
    case (PgTypes.FLOAT4, 1) => Literal(ByteBuffer.wrap(param).getFloat, FloatType)
    case (PgTypes.FLOAT8, 0) =>
      Literal(floatText(text(param), "double precision").toDouble, DoubleType)
    case (PgTypes.FLOAT8, 1) => Literal(ByteBuffer.wrap(param).getDouble, DoubleType)
    case (PgTypes.NUMERIC, 0) =>
      val s = text(param)
      val d = try Decimal(BigDecimal(s.trim))
        catch { case _: NumberFormatException => throw invalid("numeric", s) }
      Literal(d, DecimalType(Math.max(d.precision, d.scale), d.scale))
    case (PgTypes.NUMERIC, 1) =>
      val d = Decimal(BigDecimal(PgNumeric.fromBytes(param)))
      Literal(d, DecimalType(Math.max(d.precision, d.scale), d.scale))
    case (PgTypes.VARCHAR | 25 | 705 | 1042, _) => // varchar/text/unknown/bpchar
      Literal(UTF8String.fromBytes(param), StringType)
    case (PgTypes.DATE, 0) =>
      Literal(java.time.LocalDate.parse(text(param).trim).toEpochDay.toInt, DateType)
    case (PgTypes.DATE, 1) =>
      Literal(ByteBuffer.wrap(param).getInt + PgTypes.PG_EPOCH_DAYS, DateType)
    case (PgTypes.TIMESTAMP, 1) =>
      Literal(ByteBuffer.wrap(param).getLong + PgTypes.PG_EPOCH_MICROS, TimestampType)
    case (PgTypes.TIMESTAMP, 0) =>
      val ldt = java.time.LocalDateTime.parse(text(param).trim.replace(' ', 'T'))
      Literal(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L, TimestampType)
    case (PgTypes.UNSPECIFIED, f) =>
      throw new IllegalArgumentException(s"Unspecified type unsupported: format=$f")
    case (o, f) =>
      throw new IllegalArgumentException(s"Cannot bind param: oid=$o, format=$f")
  }

  /** [[decode]], except that text it cannot take binds as VARCHAR for
    * Spark's cast to read at execution: text for an oid with no decoder
    * here, and date/timestamp text in a form `java.time` does not parse
    * (Spark's cast accepts more, e.g. a zone offset).
    */
  def decodeOrText(param: Array[Byte], oid: Int, format: Int): Literal =
    try decode(param, oid, format)
    catch {
      case _: IllegalArgumentException | _: java.time.DateTimeException if format == 0 =>
        Literal(UTF8String.fromBytes(param), StringType)
    }

  /** Bind parameter `n` (1-based): [[decodeOrText]], then PG's
    * exec_bind_message check that a binary value was read to its end — a
    * fixed-width value with bytes left over answers 22P03. One too short
    * reads past its end, which the wire error writer answers as 08P01.
    */
  def decodeBindParam(param: Array[Byte], oid: Int, format: Int, n: Int): Literal = {
    val lit = decodeOrText(param, oid, format)
    val width = PgTypes.typeLenOf(oid)
    if (format == 1 && width > 0 && param.length > width) {
      throw new PgStateException(s"incorrect binary data format in bind parameter $n", "22P03")
    }
    lit
  }

  private def text(b: Array[Byte]): String = new String(b, UTF_8)

  private def invalid(pgType: String, s: String) =
    new PgStateException(s"""invalid input syntax for type $pgType: "$s"""", "22P02")

  /** PG's boolin: a prefix of true/false/yes/no, on/off, 1/0, any case. */
  private def bool(s: String): Boolean = {
    val t = s.trim.toLowerCase
    def prefixOf(word: String, min: Int) = t.length >= min && word.startsWith(t)
    if (prefixOf("true", 1) || prefixOf("yes", 1) || prefixOf("on", 2) || t == "1") true
    else if (prefixOf("false", 1) || prefixOf("no", 1) || prefixOf("off", 2) || t == "0") false
    else throw invalid("boolean", s)
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
