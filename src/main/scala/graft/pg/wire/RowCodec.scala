package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL V3 DataRow field writers: one per (Catalyst type, format).
  * Layout per field: int32 byte-length then the payload, length -1 for NULL
  * (reference converters.scala:131-151). Binary values are big-endian;
  * date/timestamp shift to the PG epoch (see [[PgTypes.PG_EPOCH_DAYS]]).
  */
object RowCodec {

  type FieldWriter = (InternalRow, ByteBuffer) => Unit

  private val NULL_LEN = -1

  /** Build per-column writers for a schema; `binary(i)` selects the wire
    * format of column i (reference converters.scala:107-126). `zone` renders
    * TimestampType text in the session time zone so values agree with the
    * TimeZone ParameterStatus announced at startup.
    */
  def rowWriter(schema: StructType, binary: Seq[Boolean],
      zone: ZoneId = ZoneOffset.UTC): (InternalRow, ByteBuffer) => Unit = {
    require(schema.length == binary.length, "format flags must match schema arity")
    val writers = schema.fields.zipWithIndex.map { case (f, i) =>
      fieldWriter(f.dataType, i, binary(i), zone)
    }
    (row, buf) => {
      var i = 0
      while (i < writers.length) {
        if (row.isNullAt(i)) buf.putInt(NULL_LEN) else writers(i)(row, buf)
        i += 1
      }
    }
  }

  private def putBytes(buf: ByteBuffer, b: Array[Byte]): Unit = {
    buf.putInt(b.length); buf.put(b)
  }
  private def putText(buf: ByteBuffer, s: String): Unit = putBytes(buf, s.getBytes(UTF_8))

  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  /** PG-style timestamp text: micros with trailing zeros trimmed, no
    * fractional dot when zero (PG timestamp_out behavior; the reference used
    * java.sql.Timestamp.toString which always emits ".0" — we match PG).
    * Instant micros are rendered as wall-clock time in `zone`.
    */
  def timestampText(micros: Long, zone: ZoneId = ZoneOffset.UTC): String = {
    val instant = Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    fracText(tsFmt.format(LocalDateTime.ofInstant(instant, zone)),
      Math.floorMod(micros, 1000000L))
  }

  /** TimestampNTZ text: the micros already encode a wall-clock local time,
    * so no zone shift is applied (PG timestamp-without-time-zone semantics).
    */
  def timestampNtzText(micros: Long): String =
    fracText(tsFmt.format(LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L).toInt * 1000,
      ZoneOffset.UTC)), Math.floorMod(micros, 1000000L))

  private def fracText(base: String, frac: Long): String =
    if (frac == 0) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse

  def dateText(days: Int): String = LocalDate.ofEpochDay(days.toLong).toString

  /** PG interval_out text for a day-time interval stored as total micros:
    * `1 day 02:03:04.5`, negative `-1 days -02:03:04` (PG prints plural
    * `days` for negative magnitudes).
    */
  def dayTimeIntervalText(micros: Long): String = {
    val neg = micros < 0
    // math.abs(Long.MinValue) == Long.MinValue, which would make every
    // component negative garbage; the unsigned bit pattern of -MinValue is
    // the true magnitude 2^63, so divide/mod unsigned (both results fit in
    // a signed long: max days ~1.07e11, rem < 8.64e10)
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

  /** PG interval_out text for a year-month interval stored as total months:
    * `1 year 2 mons`; zero renders as PG's `00:00:00`.
    */
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

  def fieldWriter(dt: DataType, i: Int, binary: Boolean,
      zone: ZoneId = ZoneOffset.UTC): FieldWriter = (dt, binary) match {
    // ---- binary mode ----
    case (BooleanType, true) => (r, b) => { b.putInt(1); b.put(if (r.getBoolean(i)) 1.toByte else 0.toByte) }
    case (ByteType, true) => (r, b) => { b.putInt(1); b.put(r.getByte(i)) }
    case (ShortType, true) => (r, b) => { b.putInt(2); b.putShort(r.getShort(i)) }
    case (IntegerType, true) => (r, b) => { b.putInt(4); b.putInt(r.getInt(i)) }
    case (LongType, true) => (r, b) => { b.putInt(8); b.putLong(r.getLong(i)) }
    case (FloatType, true) => (r, b) => { b.putInt(4); b.putFloat(r.getFloat(i)) }
    case (DoubleType, true) => (r, b) => { b.putInt(8); b.putDouble(r.getDouble(i)) }
    case (DateType, true) => (r, b) => { b.putInt(4); b.putInt(r.getInt(i) - PgTypes.PG_EPOCH_DAYS) }
    case (TimestampType, true) => (r, b) => {
      // announced as OID 1114 (timestamp WITHOUT time zone), whose binary
      // value is wall-clock micros since the PG epoch — shift the UTC-based
      // instant into the session zone so binary and text formats agree
      // (pgjdbc silently switches to binary past its prepared-statement
      // threshold; the two formats must not differ by the zone offset)
      val micros = r.getLong(i)
      val offsetSec = zone.getRules.getOffset(Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
        .getTotalSeconds
      b.putInt(8); b.putLong(micros + offsetSec * 1000000L - PgTypes.PG_EPOCH_MICROS)
    }
    case (TimestampNTZType, true) => (r, b) => {
      // NTZ micros are already wall-clock — 1114's binary value needs only
      // the PG-epoch shift, no session-zone adjustment (contrast the LTZ
      // case above)
      b.putInt(8); b.putLong(r.getLong(i) - PgTypes.PG_EPOCH_MICROS)
    }
    case (d: DecimalType, true) => (r, b) =>
      PgNumeric.write(b, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
    case (CalendarIntervalType, true) => (r, b) => {
      // PG interval_recv wire order: time-in-day micros (int64), days
      // (int32), months (int32) — not the struct's field order
      val iv = r.getInterval(i)
      b.putInt(16); b.putLong(iv.microseconds); b.putInt(iv.days); b.putInt(iv.months)
    }
    case (StringType, _) => (r, b) => {
      val s = r.getUTF8String(i)
      // UTF8String.writeTo copyMemory's into the backing array BEFORE any
      // bounds check — an oversized value corrupts the heap instead of
      // throwing. Pre-check so callers get the standard overflow signal.
      if (b.remaining() < 4 + s.numBytes()) throw new java.nio.BufferOverflowException
      b.putInt(s.numBytes()); s.writeTo(b)
    }
    case (BinaryType, true) => (r, b) => putBytes(b, r.getBinary(i))

    // ---- text mode ----
    case (BooleanType, false) => (r, b) => { b.putInt(1); b.put(if (r.getBoolean(i)) 't'.toByte else 'f'.toByte) }
    case (_, false) => val text = textOf(dt, i, zone); (r, b) => putText(b, text(r))
    case (other, true) =>
      throw new IllegalArgumentException(s"binary format unsupported for $other")
  }

  /** PG text output of non-null column `i`: the DataRow text payload and
    * a `COPY TO` text/csv field before COPY escaping.
    */
  def textOf(dt: DataType, i: Int, zone: ZoneId): InternalRow => String = dt match {
    case BooleanType => r => if (r.getBoolean(i)) "t" else "f"
    case StringType => r => r.getUTF8String(i).toString
    case BinaryType => r => byteaText(r.getBinary(i))
    case DateType => r => dateText(r.getInt(i))
    case TimestampType => r => timestampText(r.getLong(i), zone)
    case TimestampNTZType => r => timestampNtzText(r.getLong(i))
    case _: DayTimeIntervalType => r => dayTimeIntervalText(r.getLong(i))
    case _: YearMonthIntervalType => r => yearMonthIntervalText(r.getInt(i))
    case d: DecimalType => r => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
    case at: ArrayType => r => pgArrayText(r.getArray(i), at.elementType, zone)
    case mt: MapType => r => jsonValue(r.getMap(i), mt, zone)
    case st: StructType => r => jsonValue(r.getStruct(i, st.length), st, zone)
    case ByteType => r => r.getByte(i).toString
    case ShortType => r => r.getShort(i).toString
    case IntegerType => r => r.getInt(i).toString
    case LongType => r => r.getLong(i).toString
    case FloatType => r => r.getFloat(i).toString
    case DoubleType => r => r.getDouble(i).toString
    case CalendarIntervalType => r => r.getInterval(i).toString
    case other => r => String.valueOf(r.get(i, other))
  }

  /** PG's bytea_output = hex: `\x` then two lowercase digits per byte. */
  def byteaText(b: Array[Byte]): String = "\\x" + java.util.HexFormat.of.formatHex(b)

  /** PG array literal: `{1,2,3}` / `{"a","b"}` (reference renders via JSON
    * then re-braces, converters.scala:370-388 — same output, built directly).
    */
  def pgArrayText(arr: ArrayData, elem: DataType, zone: ZoneId = ZoneOffset.UTC): String = {
    val sb = new StringBuilder("{")
    var k = 0
    while (k < arr.numElements()) {
      if (k > 0) sb.append(',')
      if (arr.isNullAt(k)) sb.append("null")
      else sb.append(scalarText(arr.get(k, elem), elem, zone))
      k += 1
    }
    sb.append('}').toString
  }

  /** An array element: a nested array keeps the PG braces, anything else
    * renders as in JSON.
    */
  private def scalarText(v: Any, dt: DataType, zone: ZoneId): String = dt match {
    case at: ArrayType => pgArrayText(v.asInstanceOf[ArrayData], at.elementType, zone)
    case _ => jsonValue(v, dt, zone)
  }

  /** Minimal JSON rendering for map/struct text mode (reference uses
    * catalyst's JacksonGenerator; output shape matches). Datetimes and
    * bytea are JSON strings of their PG text.
    */
  def jsonValue(v: Any, dt: DataType, zone: ZoneId): String = (v, dt) match {
    case (null, _) => "null"
    case (m: MapData, mt: MapType) =>
      val keys = m.keyArray(); val vals = m.valueArray()
      (0 until m.numElements()).map { k =>
        val key = keys.get(k, mt.keyType) match {
          case s: UTF8String => jsonString(s.toString)
          // JSON keys must be strings: render complex keys (arrays/structs
          // have identity-hash toStrings) through jsonValue, then quote
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
