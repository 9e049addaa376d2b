package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneId, ZoneOffset}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

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

  /** `write`'s bytes, at most `max` of them, as a String: the scalar text
    * nested in arrays and JSON.
    */
  private def render(max: Int)(write: ByteBuffer => Unit): String = {
    val b = ByteBuffer.allocate(max)
    write(b)
    new String(b.array, 0, b.position(), UTF_8)
  }

  /** PG-style timestamp text: micros with trailing zeros trimmed, no
    * fractional dot when zero (PG timestamp_out behavior; the reference used
    * java.sql.Timestamp.toString which always emits ".0" — we match PG).
    * Instant micros are rendered as wall-clock time in `zone`.
    */
  def timestampText(micros: Long, zone: ZoneId = ZoneOffset.UTC): String =
    render(64)(PgText.putTimestamp(_, micros, zone.getRules))

  /** TimestampNTZ text: the micros already encode a wall-clock local time,
    * so no zone shift is applied (PG timestamp-without-time-zone semantics).
    */
  def timestampNtzText(micros: Long): String = render(64)(PgText.putTimestampNtz(_, micros))

  def dateText(days: Int): String = render(32)(PgText.putDate(_, days))

  /** PG interval_out (IntervalStyle postgres) of months, days and time
    * micros: `1 year 2 mons 3 days 04:05:06.5`. Years and months split the
    * months, hours are not folded into days, and each nonzero part carries
    * its own sign (`-1 years -2 mons`), with `+` on a positive part that
    * follows a negative one (`-1 days +02:00:00`); all zero is `00:00:00`.
    */
  def intervalText(months: Int, days: Long, micros: Long): String = {
    val sb = new StringBuilder
    var afterNegative = false
    def part(v: Long, unit: String): Unit = if (v != 0) {
      if (sb.nonEmpty) sb.append(' ')
      if (afterNegative && v > 0) sb.append('+')
      sb.append(v).append(' ').append(unit)
      if (v != 1) sb.append('s')
      afterNegative = v < 0
    }
    part(months / 12, "year")
    part(months % 12, "mon")
    part(days, "day")
    if (sb.isEmpty || micros != 0) {
      if (sb.nonEmpty) sb.append(' ')
      if (micros < 0) sb.append('-') else if (afterNegative) sb.append('+')
      // -Long.MinValue is itself; its unsigned bit pattern is the true
      // magnitude 2^63, so divide unsigned (the quotient fits a long)
      val mag = if (micros < 0) -micros else micros
      val h = java.lang.Long.divideUnsigned(mag, 3600000000L)
      val rem = java.lang.Long.remainderUnsigned(mag, 3600000000L)
      def two(v: Long): Unit = { if (v < 10) sb.append('0'); sb.append(v) }
      two(h); sb.append(':'); two(rem / 60000000L); sb.append(':'); two(rem / 1000000L % 60)
      sb.append(render(8)(PgText.putFraction(_, rem % 1000000L)))
    }
    sb.toString
  }

  /** PG interval_out text for a day-time interval stored as total micros:
    * `1 day 02:03:04.5`, negative `-1 days -02:03:04`.
    */
  def dayTimeIntervalText(micros: Long): String =
    intervalText(0, micros / 86400000000L, micros % 86400000000L)

  /** PG interval_out text for a year-month interval stored as total months:
    * `1 year 2 mons`; zero renders as PG's `00:00:00`.
    */
  def yearMonthIntervalText(months: Int): String = intervalText(months, 0, 0)

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
    case (StringType, true) =>
      val text = textWriter(StringType, i, zone)
      (r, b) => { b.putInt(r.getUTF8String(i).numBytes()); text(r, b) }
    case (BinaryType, true) => (r, b) => putBytes(b, r.getBinary(i))

    // ---- text mode: the length slot is reserved, then backpatched ----
    case (_, false) =>
      val text = textWriter(dt, i, zone)
      (r, b) => {
        val at = b.position()
        b.putInt(0)
        text(r, b)
        b.putInt(at, b.position() - at - 4)
      }
    case (other, true) =>
      throw new IllegalArgumentException(s"binary format unsupported for $other")
  }

  /** Writes a non-null field's PG text at the buffer's position, with no
    * length before it.
    */
  type TextWriter = (InternalRow, ByteBuffer) => Unit

  /** The one PG text renderer, for column `i`: the DataRow text payload,
    * and a `COPY TO` text/csv field before COPY escaping. Scalars are
    * written as bytes; bytea, arrays, maps, structs and intervals build
    * their text first. A full buffer throws `BufferOverflowException`,
    * and the row can be written again into a larger one.
    */
  def textWriter(dt: DataType, i: Int, zone: ZoneId): TextWriter = dt match {
    case BooleanType => (r, b) => b.put(if (r.getBoolean(i)) 't'.toByte else 'f'.toByte)
    case _: StringType => (r, b) => {
      val s = r.getUTF8String(i)
      // UTF8String.writeTo copyMemory's into the backing array BEFORE any
      // bounds check (an oversized value corrupts the heap instead of
      // throwing): check first, so callers get the overflow signal
      if (b.remaining() < s.numBytes()) throw new java.nio.BufferOverflowException
      s.writeTo(b)
    }
    case ByteType => (r, b) => PgText.putLong(b, r.getByte(i))
    case ShortType => (r, b) => PgText.putLong(b, r.getShort(i))
    case IntegerType => (r, b) => PgText.putLong(b, r.getInt(i))
    case LongType => (r, b) => PgText.putLong(b, r.getLong(i))
    case FloatType => (r, b) => PgText.putFloat(b, r.getFloat(i))
    case DoubleType => (r, b) => PgText.putDouble(b, r.getDouble(i))
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS && d.scale >= 0 => (r, b) => {
      val v = r.getDecimal(i, d.precision, d.scale)
      PgText.putDecimal(b, v.toUnscaledLong, v.scale)
    }
    case d: DecimalType => (r, b) =>
      PgText.putAscii(b, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
    case DateType => (r, b) => PgText.putDate(b, r.getInt(i))
    case TimestampType =>
      val rules = zone.getRules
      (r, b) => PgText.putTimestamp(b, r.getLong(i), rules)
    case TimestampNTZType => (r, b) => PgText.putTimestampNtz(b, r.getLong(i))
    case BinaryType => (r, b) => PgText.putBytea(b, r.getBinary(i))
    case _ =>
      val text = textOfValue(dt, zone)
      (r, b) => b.put(text(r.get(i, dt)).getBytes(UTF_8))
  }

  /** The text of a non-null value of a type [[textWriter]] renders as a
    * String, nested values included.
    */
  private def textOfValue(dt: DataType, zone: ZoneId): Any => String = dt match {
    case _: DayTimeIntervalType => v => dayTimeIntervalText(v.asInstanceOf[Long])
    case _: YearMonthIntervalType => v => yearMonthIntervalText(v.asInstanceOf[Int])
    case CalendarIntervalType => v => {
      val iv = v.asInstanceOf[CalendarInterval]
      intervalText(iv.months, iv.days, iv.microseconds)
    }
    case at: ArrayType => v => pgArrayText(v.asInstanceOf[ArrayData], at.elementType, zone)
    case _: MapType | _: StructType => v => jsonValue(v, dt, zone)
    case _ => v => String.valueOf(v)
  }

  /** PG's bytea_output = hex: `\x` then two lowercase digits per byte. */
  def byteaText(b: Array[Byte]): String = render(2 + 2 * b.length)(PgText.putBytea(_, b))

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
    case (iv: CalendarInterval, _) => jsonString(intervalText(iv.months, iv.days, iv.microseconds))
    case (d: Decimal, _) => d.toJavaBigDecimal.toPlainString
    case (f: Float, _) => render(32)(PgText.putFloat(_, f))
    case (d: Double, _) => render(32)(PgText.putDouble(_, d))
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
