package graft.pg.wire

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.catalyst.util.DateTimeUtils.{instantToMicros, microsToInstant}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
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
    assert(new String(payload(write(DoubleType, 8.0, binary = false)), UTF_8) === "8")
    assert(new String(payload(write(FloatType, 1.0f, binary = false)), UTF_8) === "1")
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

  private def text(dt: DataType, v: Any): String =
    new String(payload(write(dt, v, binary = false)), UTF_8)

  test("float text is PG's float8out/float4out: shortest digits, plain from 1e-4 to below 1e15") {
    val doubles = Seq(8.0 -> "8", 1e14 -> "100000000000000", 1e15 -> "1e+15",
      1.5e-5 -> "1.5e-05", 1e-4 -> "0.0001", 1e-5 -> "1e-05", -0.0 -> "-0", 0.0 -> "0",
      0.1 + 0.2 -> "0.30000000000000004", 123.456 -> "123.456", -2.5e-10 -> "-2.5e-10",
      1e100 -> "1e+100", Double.MaxValue -> "1.7976931348623157e+308",
      Double.MinPositiveValue -> "5e-324", -1.5e-323 -> "-1.5e-323",
      Double.NaN -> "NaN", Double.PositiveInfinity -> "Infinity",
      Double.NegativeInfinity -> "-Infinity")
    doubles.foreach { case (v, t) => assert(text(DoubleType, v) === t, v) }
    val floats = Seq(1.0f -> "1", 1e6f -> "1e+06", 100000f -> "100000", 123456.79f -> "123456.79",
      0.1f -> "0.1", -0.0f -> "-0", 3.4028235e38f -> "3.4028235e+38",
      Float.MinPositiveValue -> "1e-45", 1.0e-4f -> "0.0001", Float.NaN -> "NaN",
      Float.NegativeInfinity -> "-Infinity")
    floats.foreach { case (v, t) => assert(text(FloatType, v) === t, v) }
    // nested in arrays and JSON the same
    assert(text(ArrayType(DoubleType), ArrayData.toArrayData(Array(1.0, 2.5, 1e15))) ===
      "{1,2.5,1e+15}")
  }

  test("property: float text reads back as the value, laid out as PG's") {
    val layout = "-?(0|[1-9][0-9]*)(\\.[0-9]*[1-9])?|-?[1-9](\\.[0-9]*[1-9])?e[+-][0-9]{2,3}".r
    def check[T](dt: DataType, gen: Gen[T], oid: Int, maxPlain: Int) = {
      val prop = Prop.forAll(gen) { v =>
        val t = text(dt, v)
        val back = ParamCodec.decode(t.getBytes(UTF_8), oid, 0).value
        val plainOk = Seq("NaN", "Infinity", "-Infinity", "0", "-0").contains(t) || {
          val d = new java.math.BigDecimal(t)
          val exp = d.precision - d.scale - 1 // of the leading digit
          layout.pattern.matcher(t).matches && t.contains("e") == (exp < -4 || exp > maxPlain)
        }
        Prop(back.equals(v) && plainOk) :| s"$v -> $t -> $back"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
        .withInitialSeed(Seed(20261019L)), prop)
      assert(result.passed, s"$dt: ${result.status}")
    }
    check(DoubleType, Gen.oneOf(Arbitrary.arbitrary[Long].map(java.lang.Double.longBitsToDouble),
      Arbitrary.arbitrary[Double], Gen.choose(-1e6, 1e6), Gen.choose(0L, 4096L)
        .map(java.lang.Double.longBitsToDouble)), PgTypes.FLOAT8, 14)
    // values with a few decimals, which putDouble writes from their scaled
    // long, print as the plain form of Schubfach's shortest digits
    val fewDecimals = Gen.zip(Gen.choose(-999999999999999L, 999999999999999L), Gen.choose(0, 4))
      .map { case (m, k) => m / math.pow(10, k) }
    val plainProp = Prop.forAll(fewDecimals) { v =>
      val t = text(DoubleType, v)
      val expected = if (v == 0) t else new java.math.BigDecimal(
        com.fasterxml.jackson.core.io.NumberOutput.toString(v, true))
        .stripTrailingZeros.toPlainString
      val plain = math.abs(v) >= 1e-3 && math.abs(v) < 1e12
      Prop(!plain || t == expected) :| s"$v -> $t, expected $expected"
    }
    assert(Test.check(Test.Parameters.default.withMinSuccessfulTests(5000)
      .withInitialSeed(Seed(20261019L)), plainProp).passed)
    check(DoubleType, fewDecimals, PgTypes.FLOAT8, 14)
    check(FloatType, Gen.oneOf(Arbitrary.arbitrary[Int].map(java.lang.Float.intBitsToFloat),
      Arbitrary.arbitrary[Float], Gen.choose(0, 4096).map(java.lang.Float.intBitsToFloat)),
      PgTypes.FLOAT4, 5)
  }

  test("interval text is PG's interval_out, each part signed") {
    def iv(months: Int, days: Int, micros: Long) =
      text(CalendarIntervalType, new CalendarInterval(months, days, micros))
    assert(iv(14, 2, 3723000004L) === "1 year 2 mons 2 days 01:02:03.000004")
    assert(iv(-14, 3, -3600000000L) === "-1 years -2 mons +3 days -01:00:00")
    assert(iv(0, -1, 7200000000L) === "-1 days +02:00:00")
    assert(iv(-1, 0, 0) === "-1 mons")
    assert(iv(1, 1, 0) === "1 mon 1 day")
    assert(iv(0, 0, 90000000000L) === "25:00:00")
    assert(iv(0, 0, -1) === "-00:00:00.000001")
    assert(iv(0, 0, 0) === "00:00:00")
    assert(iv(0, 0, Long.MinValue) === "-2562047788:00:54.775808")
    assert(text(YearMonthIntervalType(), Int.MinValue) === "-178956970 years -8 mons")
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

  test("bytea text is PG's hex format, nested in arrays too") {
    assert(new String(payload(write(BinaryType, Array[Byte](1, 2, -1), binary = false)), UTF_8) ===
      "\\x0102ff")
    assert(new String(payload(write(ArrayType(BinaryType),
      ArrayData.toArrayData(Array(Array[Byte](10))), binary = false)), UTF_8) === """{"\\x0a"}""")
  }

  test("bytea text decodes PG's byteain hex and escape formats") {
    def dec(s: String) = ParamCodec.decode(s.getBytes(UTF_8), PgTypes.BYTEA, 0).value
      .asInstanceOf[Array[Byte]].toSeq
    assert(dec("\\x0102ff") === Seq[Byte](1, 2, -1))
    assert(dec("\\x01 02") === Seq[Byte](1, 2))
    assert(dec("\\x") === Nil)
    assert(dec("ab\\\\c\\001") === Seq[Byte]('a', 'b', '\\', 'c', 1))
    for (bad <- Seq("\\x0", "\\xzz", "a\\9", "\\4000")) {
      val e = intercept[graft.pg.server.PgStateException](dec(bad))
      assert(e.state === "22P02", bad)
    }
  }

  test("decimal text") {
    assert(new String(payload(write(DecimalType(10, 2),
      Decimal(BigDecimal("1234.56"), 10, 2), binary = false)), UTF_8) === "1234.56")
  }

  test("decimal text is plain, never exponent notation") {
    assert(new String(payload(write(DecimalType(38, 18),
      Decimal(BigDecimal(0), 38, 18), binary = false)), UTF_8) === "0.000000000000000000")
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
    // JSON has no NaN or Infinity: inside a map or struct, and in a JSON
    // array nested there, they are strings, as PG's to_json writes them
    val keys: Array[Any] = Array("a", "b", "c", "d").map(UTF8String.fromString)
    assert(text(MapType(StringType, DoubleType), ArrayBasedMapData(keys,
      Array[Any](Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1.5))) ===
      """{"a":"NaN","b":"Infinity","c":"-Infinity","d":1.5}""")
    val floats = new StructType().add("f", FloatType).add("a", ArrayType(DoubleType))
    assert(text(floats, InternalRow(Float.NaN, ArrayData.toArrayData(Array(1.5, Double.NaN)))) ===
      """{"f":"NaN","a":[1.5,"NaN"]}""")
    // a top-level array stays PG's array_out text, bare, and quotes only
    // inside a JSON element
    assert(text(ArrayType(DoubleType), ArrayData.toArrayData(
      Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))) ===
      "{NaN,Infinity,-Infinity}")
    assert(text(ArrayType(ArrayType(FloatType)), ArrayData.toArrayData(
      Array(ArrayData.toArrayData(Array(Float.NaN))))) === "{{NaN}}")
    assert(text(ArrayType(floats), ArrayData.toArrayData(Array(
      InternalRow(Float.PositiveInfinity, null)))) === """{{"f":"Infinity","a":null}}""")
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

  test("binary bind params are read to exactly their type's width") {
    def int8Bytes(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
    def bindParam(b: Array[Byte], oid: Int) = ParamCodec.decodeBindParam(b, oid, 1, 2, ZoneOffset.UTC)
    assert(bindParam(int8Bytes(7), PgTypes.INT8).value === 7L)
    assert(bindParam(Array[Byte](2), PgTypes.BOOL).value === true) // boolrecv: any non-zero
    val e = intercept[graft.pg.server.PgStateException](bindParam(int8Bytes(7), PgTypes.INT4))
    assert((e.state, e.getMessage) === ("22P03", "incorrect binary data format in bind parameter 2"))
    // the shared decode answers the same state, naming no parameter
    val shared = intercept[graft.pg.server.PgStateException](
      ParamCodec.decode(int8Bytes(7), PgTypes.INT4, 1))
    assert((shared.state, shared.getMessage) === ("22P03", "incorrect binary data format"))
    intercept[graft.pg.server.PgStateException](bindParam(Array[Byte](1, 0), PgTypes.BOOL))
    // too short: read past the end, answered as a truncated message on the wire
    intercept[java.nio.BufferUnderflowException](bindParam(Array.empty, PgTypes.BOOL))
    intercept[java.nio.BufferUnderflowException](bindParam(Array[Byte](0, 1), PgTypes.DATE))
    // varlena types have no width to check
    assert(bindParam("abc".getBytes(UTF_8), PgTypes.VARCHAR).value === UTF8String.fromString("abc"))
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
    def orText(s: String, oid: Int) =
      ParamCodec.decodeBindParam(s.getBytes(UTF_8), oid, 0, 1, ZoneOffset.UTC)
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

  /** Every type RowCodec writes and ParamCodec reads, with a generator of
    * its Catalyst values. TIMESTAMP_NTZ travels as 1114 and is read in UTC,
    * as COPY FROM reads it, so a wall-clock time in a DST gap stays put.
    */
  private lazy val CodecCases: Seq[(DataType, Gen[Any])] = {
    def edgesOr[T](edges: T*)(g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.oneOf(edges), 3 -> g)
    def micros(s: String) = instantToMicros(Instant.parse(s))
    def wallMicros(s: String) = LocalDateTime.parse(s).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val (minDay, maxDay) = (java.time.LocalDate.of(1, 1, 1).toEpochDay.toInt,
      java.time.LocalDate.of(9999, 12, 31).toEpochDay.toInt)
    val (minTs, maxTs) = (minDay * 86400000000L, (maxDay + 1) * 86400000000L - 1)
    val dec = DecimalType(38, 18)
    def decimal(unscaled: BigInt) = Decimal(BigDecimal(unscaled, dec.scale), dec.precision, dec.scale)
    Seq(
      BooleanType -> Gen.oneOf(true, false),
      ShortType -> edgesOr(Short.MinValue, Short.MaxValue, 0.toShort)(Arbitrary.arbitrary[Short]),
      IntegerType -> edgesOr(Int.MinValue, Int.MaxValue, 0)(Arbitrary.arbitrary[Int]),
      LongType -> edgesOr(Long.MinValue, Long.MaxValue, 0L)(Arbitrary.arbitrary[Long]),
      FloatType -> edgesOr(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f,
        Float.MinPositiveValue, Float.MaxValue)(Arbitrary.arbitrary[Float]),
      DoubleType -> edgesOr(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
        Double.MinPositiveValue, Double.MaxValue)(Arbitrary.arbitrary[Double]),
      dec -> edgesOr(decimal(0), decimal(BigInt(10).pow(38) - 1), decimal(1 - BigInt(10).pow(38)))(
        Arbitrary.arbitrary[Long].map(l => decimal(BigInt(l) * 1000003L))),
      StringType -> edgesOr("", "é\u0000\t\\\"")(Arbitrary.arbitrary[String])
        .map(s => UTF8String.fromString(s.toString)),
      BinaryType -> edgesOr(Array.emptyByteArray, Array[Byte]('\\'), Array[Byte](0, -1))(
        Arbitrary.arbitrary[Array[Byte]]),
      DateType -> edgesOr(minDay, maxDay, 0, PgTypes.PG_EPOCH_DAYS)(Gen.choose(minDay, maxDay)),
      // 2024-03-10 in New York skips 02:00-03:00 and 2024-11-03 repeats 01:00-02:00
      TimestampType -> edgesOr(minTs, maxTs, 0L, micros("2024-03-10T06:59:59.999999Z"),
        micros("2024-03-10T07:00:00Z"), micros("2024-11-03T05:30:00Z"),
        micros("2024-11-03T06:30:00Z"))(Gen.choose(minTs, maxTs)),
      TimestampNTZType -> edgesOr(minTs, maxTs, wallMicros("2024-03-10T02:30:00"),
        wallMicros("2024-11-03T01:30:00"))(Gen.choose(minTs, maxTs)))
  }

  /** The value `v` encodes as, decoded back; None for SQL NULL. */
  private def roundTrip(dt: DataType, v: Any, binary: Boolean, zone: ZoneId): Option[Any] = {
    val buf = ByteBuffer.allocate(1 << 16)
    RowCodec.rowWriter(StructType(Seq(StructField("a", dt))), Seq(binary), zone)(
      new GenericInternalRow(Array[Any](v)), buf)
    buf.flip()
    val len = buf.getInt
    if (len < 0) None
    else {
      val bytes = new Array[Byte](len); buf.get(bytes)
      val readZone = if (dt == TimestampNTZType) ZoneOffset.UTC else zone
      Some(ParamCodec.decode(bytes, PgTypes.oidOf(dt), if (binary) 1 else 0, readZone).value)
    }
  }

  test("property: every type both codecs speak decodes back to the value it encoded") {
    val utc = ZoneOffset.UTC
    val decodable = Seq(BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
      DoubleType, DecimalType(10, 2), StringType, BinaryType, DateType, TimestampType,
      TimestampNTZType, CalendarIntervalType, DayTimeIntervalType(), YearMonthIntervalType(),
      ArrayType(IntegerType), MapType(StringType, IntegerType), new StructType().add("x", "int"))
      .filter(dt => Seq(0, 1).forall(f => Try(ParamCodec.reader(PgTypes.oidOf(dt), f, utc)).isSuccess))
    assert(decodable.map(_.getClass) === CodecCases.map(_._1.getClass),
      "every decodable type has a round-trip case")
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x: Decimal, y: Decimal) => x.toJavaBigDecimal == y.toJavaBigDecimal // scale too
      case _ => a.equals(b) // boxed: NaN equals NaN, -0.0 differs from 0.0
    }
    for (zone <- Seq(utc, ZoneId.of("America/New_York")); (dt, gen) <- CodecCases;
        binary <- Seq(false, true)) {
      val prop = Prop.forAll(Gen.frequency(1 -> Gen.const(null), 9 -> gen)) { v =>
        // a wall-clock time in a repeated hour names two instants; 1114
        // reads it as the earlier one, as PG's timestamptz input does
        val expected = (v, dt) match {
          case (null, _) => None
          case (m: Long, TimestampType) => Some(instantToMicros(
            LocalDateTime.ofInstant(microsToInstant(m), zone).atZone(zone).toInstant))
          case _ => Some(v)
        }
        val got = roundTrip(dt, v, binary, zone)
        Prop(got.isEmpty == expected.isEmpty && got.forall(same(_, expected.get))) :|
          s"$dt binary=$binary $zone: $v -> $got"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
        .withInitialSeed(Seed(20261017L)), prop)
      assert(result.passed, s"$dt binary=$binary $zone: ${result.status}")
    }
    // the repeated hour's later instant is the one exception, in both formats
    val later = instantToMicros(Instant.parse("2024-11-03T06:30:00Z"))
    val ny = ZoneId.of("America/New_York")
    assert(Seq(false, true).map(roundTrip(TimestampType, later, _, ny)) ===
      Seq.fill(2)(Some(later - 3600000000L)))
  }

  /** Every non-float scalar, arrays, maps and structs, with the edges of
    * the byte writers: the digit and sign cases of integers and decimals,
    * decimals stored as a long or as a BigDecimal, datetimes at epoch -1
    * µs, at the ends of years 0 and 9999 and past them (which java.time
    * renders), and the DST edges of the round-trip property.
    */
  private lazy val OracleCases: Seq[(DataType, Gen[Any])] = {
    def edgesOr[T](edges: T*)(g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.oneOf(edges), 3 -> g)
    def decimals(p: Int, s: Int): (DataType, Gen[Any]) = {
      val max = BigInt(10).pow(p) - 1
      DecimalType(p, s) -> edgesOr(BigInt(0), BigInt(1), BigInt(-1), BigInt(-5),
        BigInt(10).pow(s).min(max), max, -max)(
        Arbitrary.arbitrary[Long].map(l => BigInt(l) % (max + 1)))
        .map { case u: BigInt => Decimal(BigDecimal(u, s), p, s) }
    }
    def day(y: Int, m: Int, d: Int) = java.time.LocalDate.of(y, m, d).toEpochDay.toInt
    val dayEdges = Seq(day(0, 1, 1), day(0, 3, 1), day(9999, 12, 31), day(-1, 12, 31),
      day(10000, 1, 1), day(1600, 2, 29), day(1900, 3, 1), day(2000, 2, 29), -1, 0)
    def micros(s: String) = instantToMicros(Instant.parse(s))
    val tsEdges = dayEdges.flatMap(d => Seq(d * 86400000000L, (d + 1) * 86400000000L - 1)) ++
      Seq(-1L, 0L, 1L, Long.MinValue, Long.MaxValue, micros("2024-03-10T06:59:59.999999Z"),
        micros("2024-03-10T07:00:00Z"), micros("2024-11-03T05:30:00Z"),
        micros("2024-11-03T06:30:00Z"), micros("2024-10-06T15:30:00.5Z"))
    val anyTs = Gen.oneOf(Gen.choose(day(-2, 1, 1) * 86400000000L, day(10001, 1, 1) * 86400000000L),
      Arbitrary.arbitrary[Long])
    val scalars = CodecCases.filterNot { case (dt, _) =>
      dt == FloatType || dt == DoubleType || dt.isInstanceOf[DecimalType] ||
        dt == DateType || dt == TimestampType || dt == TimestampNTZType
    } ++ Seq(
      ByteType -> Arbitrary.arbitrary[Byte],
      DateType -> edgesOr(dayEdges: _*)(Gen.oneOf(Gen.choose(day(-2, 1, 1), day(10001, 1, 1)),
        Arbitrary.arbitrary[Int])),
      TimestampType -> edgesOr(tsEdges: _*)(anyTs),
      TimestampNTZType -> edgesOr(tsEdges: _*)(anyTs),
      DayTimeIntervalType() -> edgesOr(Long.MinValue, Long.MaxValue, 0L, -1L, 86400000000L)(
        Arbitrary.arbitrary[Long]),
      // the oracle writes nothing for Int.MinValue months (its math.abs
      // stays negative); the interval test pins that value's text
      YearMonthIntervalType() -> edgesOr(Int.MinValue + 1, Int.MaxValue, 0, -1, 12, -13)(
        Arbitrary.arbitrary[Int].filter(_ != Int.MinValue))) ++
      Seq((1, 0), (5, 5), (10, 2), (12, 4), (18, 0), (18, 18), (18, 6), (38, 18), (20, 0))
        .map { case (p, s) => decimals(p, s) }
    val nested = Seq(
      ArrayType(LongType) -> Gen.listOf(Arbitrary.arbitrary[Long])
        .map(l => ArrayData.toArrayData(l.toArray)),
      ArrayType(DateType) -> Gen.listOf(Gen.choose(day(0, 1, 1), day(9999, 12, 31)))
        .map(l => ArrayData.toArrayData(l.toArray)),
      new StructType().add("t", TimestampType).add("d", DecimalType(10, 2)) ->
        Gen.zip(anyTs, Arbitrary.arbitrary[Int]).map { case (t, d) =>
          InternalRow(t, Decimal(BigDecimal(d.toLong, 2), 10, 2)) })
    scalars ++ nested
  }

  test("property: the text writers write the oracle's bytes for every non-float type") {
    val zones = Seq(ZoneOffset.UTC, ZoneId.of("America/New_York"), ZoneId.of("Asia/Kolkata"),
      ZoneId.of("Australia/Lord_Howe"), ZoneOffset.ofHours(-18))
    for (zone <- zones; (dt, gen) <- OracleCases) {
      val schema = StructType(Seq(StructField("a", dt)))
      val writer = RowCodec.rowWriter(schema, Seq(false), zone)
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      val prop = Prop.forAll(gen) { v =>
        val expected = TextOracle.text(v, dt, zone)
        // a decimal is a long in an UnsafeRow up to 18 digits, a BigDecimal
        // in a GenericInternalRow: both forms are written
        val row = new GenericInternalRow(Array[Any](v))
        val got = Seq(row, toUnsafe(row)).map { r =>
          val buf = ByteBuffer.allocate(1 << 12)
          writer(r, buf)
          buf.flip()
          val bytes = new Array[Byte](buf.getInt); buf.get(bytes)
          new String(bytes, UTF_8)
        }
        Prop(got.forall(_ == expected)) :| s"$dt $zone: $v -> $got, expected $expected"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300)
        .withInitialSeed(Seed(20261019L)), prop)
      assert(result.passed, s"$dt $zone: ${result.status}")
    }
  }

  test("a text field that overflows the buffer throws BufferOverflowException") {
    val schema = StructType(Seq(LongType, DecimalType(10, 2), TimestampType, DoubleType,
      BinaryType, ArrayType(IntegerType)).zipWithIndex
      .map { case (t, i) => StructField(s"c$i", t) })
    val row = InternalRow(Long.MinValue, Decimal(BigDecimal("-12345678.90"), 10, 2), 1L << 50,
      -1.2345e-300, Array[Byte](1, 2, 3), ArrayData.toArrayData(Array(1, 2)))
    val writer = RowCodec.rowWriter(schema, Seq.fill(schema.length)(false))
    val full = ByteBuffer.allocate(1 << 10)
    writer(row, full)
    for (size <- 0 until full.position()) {
      intercept[java.nio.BufferOverflowException](writer(row, ByteBuffer.allocate(size)))
    }
  }
}
