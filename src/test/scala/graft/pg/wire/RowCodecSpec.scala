package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import org.scalatest.funsuite.AnyFunSuite

/** Golden-byte tests for the V3 field writers, mirroring the reference's
  * PgRowConvertersSuite.scala:75-330 (plus the PG-epoch values the PG docs
  * fix: 2000-01-01 == day 0 == microsecond 0).
  */
class RowCodecSpec extends AnyFunSuite {

  private def write(dt: DataType, v: Any, binary: Boolean): Array[Byte] = {
    val row = new GenericInternalRow(1)
    row.update(0, v)
    val buf = ByteBuffer.allocate(1024)
    RowCodec.rowWriter(StructType(Seq(StructField("a", dt))), Seq(binary))(row, buf)
    buf.flip()
    val out = new Array[Byte](buf.remaining())
    buf.get(out)
    out
  }

  private def payload(b: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(b)
    val len = buf.getInt
    assert(len == b.length - 4, "length header must cover the payload")
    b.drop(4)
  }

  test("primitive text encodings") {
    assert(new String(payload(write(IntegerType, 813, binary = false)), UTF_8) === "813")
    assert(new String(payload(write(LongType, 18923L, binary = false)), UTF_8) === "18923")
    assert(new String(payload(write(DoubleType, 8.0, binary = false)), UTF_8) === "8.0")
    assert(new String(payload(write(FloatType, 1.0f, binary = false)), UTF_8) === "1.0")
    assert(new String(payload(write(ShortType, 2392.toShort, binary = false)), UTF_8) === "2392")
    assert(new String(payload(write(ByteType, 13.toByte, binary = false)), UTF_8) === "13")
  }

  test("bool text is t/f, binary is 1/0") {
    assert(payload(write(BooleanType, true, binary = false)) === Array('t'.toByte))
    assert(payload(write(BooleanType, false, binary = false)) === Array('f'.toByte))
    assert(payload(write(BooleanType, true, binary = true)) === Array(1.toByte))
    assert(payload(write(BooleanType, false, binary = true)) === Array(0.toByte))
  }

  test("primitive binary encodings are big-endian") {
    assert(ByteBuffer.wrap(payload(write(IntegerType, 813, binary = true))).getInt === 813)
    assert(ByteBuffer.wrap(payload(write(LongType, 18923L, binary = true))).getLong === 18923L)
    assert(ByteBuffer.wrap(payload(write(ShortType, 2392.toShort, binary = true))).getShort === 2392)
    assert(ByteBuffer.wrap(payload(write(FloatType, 1.5f, binary = true))).getFloat === 1.5f)
    assert(ByteBuffer.wrap(payload(write(DoubleType, -2.25, binary = true))).getDouble === -2.25)
    // explicit golden bytes: int4 813 = 0x0000032D
    assert(payload(write(IntegerType, 813, binary = true)) ===
      Array[Byte](0x00, 0x00, 0x03, 0x2d))
  }

  test("NULL writes length -1 and no payload") {
    val row = new GenericInternalRow(1)
    row.update(0, null)
    val buf = ByteBuffer.allocate(8)
    RowCodec.rowWriter(StructType(Seq(StructField("a", IntegerType))), Seq(true))(row, buf)
    buf.flip()
    assert(buf.getInt === -1)
    assert(!buf.hasRemaining)
  }

  test("date binary: days since PG epoch 2000-01-01") {
    val d20000101 = java.time.LocalDate.of(2000, 1, 1).toEpochDay.toInt
    assert(ByteBuffer.wrap(payload(write(DateType, d20000101, binary = true))).getInt === 0)
    val d20240115 = java.time.LocalDate.of(2024, 1, 15).toEpochDay.toInt
    assert(ByteBuffer.wrap(payload(write(DateType, d20240115, binary = true))).getInt === 8780)
    val d19700101 = 0
    assert(ByteBuffer.wrap(payload(write(DateType, d19700101, binary = true))).getInt === -10957)
  }

  test("date text is ISO") {
    val days = java.time.LocalDate.of(1999, 12, 31).toEpochDay.toInt
    assert(new String(payload(write(DateType, days, binary = false)), UTF_8) === "1999-12-31")
  }

  test("timestamp binary: micros since PG epoch") {
    assert(ByteBuffer.wrap(
      payload(write(TimestampType, PgTypes.PG_EPOCH_MICROS, binary = true))).getLong === 0L)
    assert(ByteBuffer.wrap(
      payload(write(TimestampType, PgTypes.PG_EPOCH_MICROS + 1234567L, binary = true)))
      .getLong === 1234567L)
  }

  test("timestamp text trims trailing fraction zeros like PG") {
    def micros(s: String): Long =
      java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
        .toEpochMilli * 1000L
    assert(new String(payload(write(TimestampType,
      micros("2024-01-15T12:34:56"), binary = false)), UTF_8) === "2024-01-15 12:34:56")
    assert(new String(payload(write(TimestampType,
      micros("2024-01-15T12:34:56.120"), binary = false)), UTF_8) === "2024-01-15 12:34:56.12")
    assert(new String(payload(write(TimestampType,
      micros("2024-01-15T12:34:56") + 123456L, binary = false)), UTF_8) ===
      "2024-01-15 12:34:56.123456")
  }

  test("interval binary: PG wire order time(int64), days(int32), months(int32)") {
    val b = payload(write(CalendarIntervalType,
      new CalendarInterval(1, 3, 5000000L), binary = true))
    val buf = ByteBuffer.wrap(b)
    assert((buf.getLong, buf.getInt, buf.getInt) === ((5000000L, 3, 1)))
  }

  test("day-time interval text renders PG interval_out style") {
    def dt(micros: Long): String =
      new String(payload(write(DayTimeIntervalType(), micros, binary = false)), UTF_8)
    assert(dt(86400000000L) === "1 day")
    assert(dt(2 * 86400000000L) === "2 days")
    assert(dt(86400000000L + 2 * 3600000000L + 3 * 60000000L + 4000000L) === "1 day 02:03:04")
    assert(dt(3600000000L) === "01:00:00")
    assert(dt(0L) === "00:00:00")
    assert(dt(1500000L) === "00:00:01.5")
    assert(dt(-(86400000000L + 3661000000L)) === "-1 days -01:01:01")
  }

  test("year-month interval text renders PG interval_out style") {
    def ym(months: Int): String =
      new String(payload(write(YearMonthIntervalType(), months, binary = false)), UTF_8)
    assert(ym(14) === "1 year 2 mons")
    assert(ym(24) === "2 years")
    assert(ym(1) === "1 mon")
    assert(ym(0) === "00:00:00")
    assert(ym(-14) === "-1 years -2 mons")
  }

  test("timestamp_ntz text renders the stored wall-clock unshifted") {
    val micros = java.time.LocalDateTime.parse("2024-01-15T12:34:56")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(new String(payload(write(TimestampNTZType, micros, binary = false)), UTF_8) ===
      "2024-01-15 12:34:56")
  }

  test("timestamp_ntz binary is the PG-epoch shift with NO zone adjustment") {
    val micros = java.time.LocalDateTime.parse("2024-01-15T12:34:56")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val b = payload(write(TimestampNTZType, micros, binary = true))
    assert(ByteBuffer.wrap(b).getLong === micros - PgTypes.PG_EPOCH_MICROS)
    assert(PgTypes.binaryCapable(TimestampNTZType))
  }

  test("timestamp text renders in the session zone") {
    val epoch = 0L // 1970-01-01 00:00:00 UTC
    val row = new GenericInternalRow(1)
    row.update(0, epoch)
    val buf = ByteBuffer.allocate(64)
    RowCodec.rowWriter(StructType(Seq(StructField("a", TimestampType))), Seq(false),
      java.time.ZoneId.of("America/New_York"))(row, buf)
    buf.flip()
    val len = buf.getInt
    val out = new Array[Byte](len); buf.get(out)
    assert(new String(out, UTF_8) === "1969-12-31 19:00:00")
  }

  test("timestamp binary agrees with text in a non-UTC session zone") {
    // OID 1114 binary is wall-clock micros since the PG epoch: for epoch
    // instant 0 in New York the wall clock is 1969-12-31 19:00:00, i.e.
    // PG_EPOCH + (-30y +19h) — NOT the raw UTC shift. A client switching
    // text->binary (pgjdbc does after 5 executions) must see the same value.
    val zone = java.time.ZoneId.of("America/New_York")
    val row = new GenericInternalRow(1)
    row.update(0, 0L)
    val buf = ByteBuffer.allocate(64)
    RowCodec.rowWriter(StructType(Seq(StructField("a", TimestampType))), Seq(true), zone)(row, buf)
    buf.flip()
    assert(buf.getInt === 8)
    val wireMicros = buf.getLong
    val wall = java.time.LocalDateTime.parse("1969-12-31T19:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(wireMicros === wall - PgTypes.PG_EPOCH_MICROS)
  }

  test("day-time interval text survives Long.MinValue") {
    // magnitude 2^63 micros = 106751991 days + 14454775808 micros
    // (04:00:54.775808); math.abs would have produced negative components
    assert(RowCodec.dayTimeIntervalText(Long.MinValue) ===
      "-106751991 days -04:00:54.775808")
    assert(RowCodec.dayTimeIntervalText(Long.MinValue + 1) ===
      "-106751991 days -04:00:54.775807")
  }

  test("string and bytea pass through as raw bytes") {
    assert(new String(payload(
      write(StringType, UTF8String.fromString("héllo"), binary = false)), UTF_8) === "héllo")
    assert(payload(write(BinaryType, Array[Byte](1, 2, 3), binary = true)) ===
      Array[Byte](1, 2, 3))
  }

  test("decimal text") {
    assert(new String(payload(write(DecimalType(10, 2),
      Decimal(BigDecimal("1234.56"), 10, 2), binary = false)), UTF_8) === "1234.56")
  }

  test("array text renders the PG literal form") {
    assert(new String(payload(write(ArrayType(IntegerType),
      ArrayData.toArrayData(Array(0, 1, 2, 3, 4)), binary = false)), UTF_8) === "{0,1,2,3,4}")
    assert(new String(payload(write(ArrayType(StringType),
      ArrayData.toArrayData(Array(UTF8String.fromString("ab"), UTF8String.fromString("c\"d"))),
      binary = false)), UTF_8) === """{"ab","c\"d"}""")
  }

  test("map and struct text render as JSON") {
    val m = ArrayBasedMapData(
      Array[Any](UTF8String.fromString("k")), Array[Any](7))
    assert(new String(payload(write(MapType(StringType, IntegerType), m, binary = false)),
      UTF_8) === """{"k":7}""")
    val st = StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))
    val inner: InternalRow = InternalRow(5, UTF8String.fromString("z"))
    assert(new String(payload(write(st, inner, binary = false)), UTF_8) === """{"x":5,"y":"z"}""")
  }

  test("param decode round-trips against the writers") {
    assert(ParamCodec.decode("813".getBytes(UTF_8), PgTypes.INT4, 0).value === 813)
    assert(ParamCodec.decode(Array[Byte](0, 0, 3, 0x2d), PgTypes.INT4, 1).value === 813)
    assert(ParamCodec.decode("t".getBytes(UTF_8), PgTypes.BOOL, 0).value === true)
    assert(ParamCodec.decode(Array[Byte](1), PgTypes.BOOL, 1).value === true)
    assert(ParamCodec.decode("3.5".getBytes(UTF_8), PgTypes.FLOAT8, 0).value === 3.5)
    assert(ParamCodec.decode("abc".getBytes(UTF_8), PgTypes.VARCHAR, 0).value ===
      UTF8String.fromString("abc"))
    // date binary: PG day 8780 == 2024-01-15
    val lit = ParamCodec.decode(ByteBuffer.allocate(4).putInt(8780).array(), PgTypes.DATE, 1)
    assert(lit.value === java.time.LocalDate.of(2024, 1, 15).toEpochDay.toInt)
    intercept[IllegalArgumentException] {
      ParamCodec.decode(Array[Byte](0), PgTypes.UNSPECIFIED, 0)
    }
  }

  test("param text decode follows PG's input functions") {
    def dec(s: String, oid: Int) = ParamCodec.decode(s.getBytes(UTF_8), oid, 0).value
    assert(dec(" 42 ", PgTypes.INT8) === 42L)
    assert(dec("-9223372036854775808", PgTypes.INT8) === Long.MinValue)
    assert(dec("\t-0.0 ", PgTypes.FLOAT8).asInstanceOf[Double].equals(-0.0))
    assert(dec("-inf", PgTypes.FLOAT4) === Float.NegativeInfinity)
    assert(dec("nan", PgTypes.FLOAT8).asInstanceOf[Double].isNaN)
    assert(Seq("yes", " On", "TRUE", "tr", "1").map(dec(_, PgTypes.BOOL)).forall(_ == true))
    assert(Seq("no", "off", "f", "0").map(dec(_, PgTypes.BOOL)).forall(_ == false))
    assert(dec(" 2024-01-15 ", PgTypes.DATE) === 19737)
    def failure(s: String, oid: Int) = {
      val e = intercept[graft.pg.server.PgStateException](dec(s, oid))
      (e.state, e.getMessage)
    }
    assert(failure("abc", PgTypes.INT8) === ("22P02", """invalid input syntax for type bigint: "abc""""))
    assert(failure("o", PgTypes.BOOL) === ("22P02", """invalid input syntax for type boolean: "o""""))
    assert(failure("0x10", PgTypes.FLOAT8)._1 === "22P02")
    assert(failure("1.5", PgTypes.INT4)._1 === "22P02")
    assert(failure("40000", PgTypes.INT2) ===
      ("22003", """value "40000" is out of range for type smallint"""))
    assert(failure("1,5", PgTypes.NUMERIC) ===
      ("22P02", """invalid input syntax for type numeric: "1,5""""))
    // text the codec cannot take binds as VARCHAR only for oids it has no
    // decoder for and for date/timestamp forms java.time does not read
    def orText(s: String, oid: Int) = ParamCodec.decodeOrText(s.getBytes(UTF_8), oid, 0)
    assert(orText("2024-1-5", PgTypes.DATE).dataType === StringType)
    assert(orText("{1,2}", PgTypes.INT8_ARRAY).dataType === StringType)
    intercept[graft.pg.server.PgStateException](orText("abc", PgTypes.INT8))
  }

  test("oid mapping covers the bridge table") {
    assert(PgTypes.oidOf(IntegerType) === 23)
    assert(PgTypes.oidOf(StringType) === 1043)
    assert(PgTypes.oidOf(ArrayType(DoubleType)) === 1022)
    assert(PgTypes.oidOf(MapType(StringType, IntegerType)) === 6201)
    assert(PgTypes.oidOf(DayTimeIntervalType()) === 1186)
    assert(PgTypes.binaryCapable(TimestampType))
    assert(PgTypes.binaryCapable(DecimalType(10, 2)))
    assert(!PgTypes.binaryCapable(ArrayType(IntegerType)))
  }

  test("numeric binary: PG numeric_send golden bytes") {
    // 1234.56 -> ndigits 2, weight 0, sign +, dscale 2, digits {1234, 5600}
    def hex(bd: String): String =
      PgNumeric.toBytes(new java.math.BigDecimal(bd))
        .map(b => f"$b%02x").mkString
    assert(hex("1234.56") === "0002" + "0000" + "0000" + "0002" + "04d2" + "15e0")
    // 0.0001 -> one group 1 at weight -1, dscale 4
    assert(hex("0.0001") === "0001" + "ffff" + "0000" + "0004" + "0001")
    // -12000 -> digits {1, 2000} weight 1, negative, dscale 0
    assert(hex("-12000") === "0002" + "0001" + "4000" + "0000" + "0001" + "07d0")
    // zero keeps its display scale
    assert(hex("0.00") === "0000" + "0000" + "0000" + "0002")
  }

  test("numeric binary: round-trips values and display scale") {
    for (s <- Seq("0", "0.00", "1.10", "-0.01", "99999999.99", "12345678901234567890.123456",
        "-99999999999999999999999999999999999999", "0.000000000000000001", "10000", "9999")) {
      val bd = new java.math.BigDecimal(s)
      val back = PgNumeric.fromBytes(PgNumeric.toBytes(bd))
      assert(back.compareTo(bd) === 0, s"value mismatch for $s: got $back")
      assert(back.scale === Math.max(bd.scale, 0), s"scale mismatch for $s: got $back")
    }
  }

  test("numeric binary: DataRow writer emits length-prefixed numeric_send") {
    val schema = StructType(Seq(StructField("n", DecimalType(10, 2))))
    val writer = RowCodec.rowWriter(schema, Seq(true))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal("1234.56"), 10, 2))
    val buf = java.nio.ByteBuffer.allocate(64)
    writer(row, buf)
    buf.flip()
    assert(buf.getInt === 12) // 8-byte header + 2 digit groups
    assert(buf.getShort === 2)
    assert(buf.getShort === 0)
    assert(buf.getShort === 0)
    assert(buf.getShort === 2)
    assert(buf.getShort === 1234)
    assert(buf.getShort === 5600)
  }
}
