package graft.pg.wire

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The PG text renderer as `String`s, built with `java.time` formatters,
  * `toString` and `toPlainString`: the oracle that the byte writers of
  * [[RowCodec.textWriter]] must match for every type but the floats, whose
  * text follows PG's float8out instead of Java's `toString`, and
  * CalendarInterval, whose text follows PG's interval_out instead of
  * Spark's `toString`.
  */
object TextOracle {

  def text(v: Any, dt: DataType, zone: ZoneId): String = (v, dt) match {
    case (b: Boolean, BooleanType) => if (b) "t" else "f"
    case (s: UTF8String, StringType) => s.toString
    case (b: Array[Byte], BinaryType) => byteaText(b)
    case (d: Int, DateType) => dateText(d)
    case (m: Long, TimestampType) => timestampText(m, zone)
    case (m: Long, TimestampNTZType) => timestampNtzText(m)
    case (m: Long, _: DayTimeIntervalType) => dayTimeIntervalText(m)
    case (m: Int, _: YearMonthIntervalType) => yearMonthIntervalText(m)
    case (d: Decimal, _: DecimalType) => d.toJavaBigDecimal.toPlainString
    case (a: ArrayData, at: ArrayType) => arrayText(a, at.elementType, zone)
    case (_: MapData | _: InternalRow, _) => jsonValue(v, dt, zone)
    case (other, _) => other.toString
  }

  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  def timestampText(micros: Long, zone: ZoneId): String = {
    val instant = Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    fracText(tsFmt.format(LocalDateTime.ofInstant(instant, zone)),
      Math.floorMod(micros, 1000000L))
  }

  def timestampNtzText(micros: Long): String =
    fracText(tsFmt.format(LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L).toInt * 1000,
      ZoneOffset.UTC)), Math.floorMod(micros, 1000000L))

  private def fracText(base: String, frac: Long): String =
    if (frac == 0) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse

  def dateText(days: Int): String = LocalDate.ofEpochDay(days.toLong).toString

  def dayTimeIntervalText(micros: Long): String = {
    val neg = micros < 0
    val mag = if (neg) -micros else micros
    val days = java.lang.Long.divideUnsigned(mag, 86400000000L)
    val rem = java.lang.Long.remainderUnsigned(mag, 86400000000L)
    val h = rem / 3600000000L
    val m = (rem % 3600000000L) / 60000000L
    val s = (rem % 60000000L) / 1000000L
    val frac = rem % 1000000L
    val sb = new StringBuilder
    if (days > 0) {
      if (neg) sb.append('-')
      sb.append(days).append(if (days == 1 && !neg) " day" else " days")
    }
    if (rem > 0 || days == 0) {
      if (sb.nonEmpty) sb.append(' ')
      if (neg) sb.append('-')
      sb.append(f"$h%02d:$m%02d:$s%02d")
      if (frac > 0) sb.append(fracText("", frac))
    }
    sb.toString
  }

  def yearMonthIntervalText(months: Int): String = {
    if (months == 0) return "00:00:00"
    val neg = months < 0
    val abs = math.abs(months)
    val y = abs / 12
    val m = abs % 12
    val parts = new ArrayBuffer[String](2)
    if (y > 0) parts += s"${if (neg) "-" else ""}$y ${if (y == 1 && !neg) "year" else "years"}"
    if (m > 0) parts += s"${if (neg) "-" else ""}$m ${if (m == 1 && !neg) "mon" else "mons"}"
    parts.mkString(" ")
  }

  def byteaText(b: Array[Byte]): String = "\\x" + java.util.HexFormat.of.formatHex(b)

  private def arrayText(arr: ArrayData, elem: DataType, zone: ZoneId): String =
    (0 until arr.numElements()).map { k =>
      if (arr.isNullAt(k)) "null"
      else elem match {
        case at: ArrayType => arrayText(arr.getArray(k), at.elementType, zone)
        case _ => jsonValue(arr.get(k, elem), elem, zone)
      }
    }.mkString("{", ",", "}")

  private def jsonValue(v: Any, dt: DataType, zone: ZoneId): String = (v, dt) match {
    case (m: MapData, mt: MapType) =>
      val keys = m.keyArray(); val vals = m.valueArray()
      (0 until m.numElements()).map { k =>
        val key = keys.get(k, mt.keyType) match {
          case s: UTF8String => jsonString(s.toString)
          case other => jsonString(jsonValue(other, mt.keyType, zone))
        }
        val value = if (vals.isNullAt(k)) "null"
          else jsonValue(vals.get(k, mt.valueType), mt.valueType, zone)
        s"$key:$value"
      }.mkString("{", ",", "}")
    case (row: InternalRow, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, k) =>
        val value = if (row.isNullAt(k)) "null"
          else jsonValue(row.get(k, f.dataType), f.dataType, zone)
        s"${jsonString(f.name)}:$value"
      }.mkString("{", ",", "}")
    case (a: ArrayData, at: ArrayType) =>
      (0 until a.numElements()).map { k =>
        if (a.isNullAt(k)) "null" else jsonValue(a.get(k, at.elementType), at.elementType, zone)
      }.mkString("[", ",", "]")
    case (s: UTF8String, _) => jsonString(s.toString)
    case (ts: Long, TimestampType) => jsonString(timestampText(ts, zone))
    case (ts: Long, TimestampNTZType) => jsonString(timestampNtzText(ts))
    case (d: Int, DateType) => jsonString(dateText(d))
    case (m: Long, _: DayTimeIntervalType) => jsonString(dayTimeIntervalText(m))
    case (m: Int, _: YearMonthIntervalType) => jsonString(yearMonthIntervalText(m))
    case (b: Array[Byte], BinaryType) => jsonString(byteaText(b))
    case (d: Decimal, _) => d.toJavaBigDecimal.toPlainString
    case (other, _) => other.toString
  }

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
