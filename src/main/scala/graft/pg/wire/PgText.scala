package graft.pg.wire

import java.math.{MathContext, RoundingMode}
import java.nio.{BufferOverflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.zone.ZoneRules

import com.fasterxml.jackson.core.io.NumberOutput

/** PG's text output functions (int8out, numeric_out, date_out,
  * timestamp_out, float8out, byteaout) writing ASCII straight into a row
  * buffer, with no `String` for the integer, decimal and datetime types.
  * Every writer checks for room first and throws
  * `BufferOverflowException` on a full buffer, so the caller can grow it
  * and write the row again.
  */
private[wire] object PgText {

  private val MicrosPerSecond = 1000000L

  /** Epoch days of years 0 and 9999, the range [[putDate]] writes itself;
    * `java.time` renders the years outside it (`+10000-01-01`,
    * `-0001-01-01`), as before.
    */
  private val MinDay = LocalDate.of(0, 1, 1).toEpochDay
  private val MaxDay = LocalDate.of(9999, 12, 31).toEpochDay

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  private val LongMin = Long.MinValue.toString.getBytes(UTF_8)

  /** Room for `n` bytes at the position: the index of the first in the
    * backing array (row buffers are heap buffers), or overflow. The
    * writers fill the array and then move the position once: each
    * `ByteBuffer` put is a call that the JIT seldom inlines.
    */
  private def reserve(b: ByteBuffer, n: Int): Int = {
    if (b.remaining < n) throw new BufferOverflowException
    b.arrayOffset + b.position()
  }

  private def advance(b: ByteBuffer, n: Int): Unit = b.position(b.position() + n)

  def putAscii(b: ByteBuffer, s: String): Unit = {
    val at = reserve(b, s.length)
    val a = b.array
    var k = 0
    while (k < s.length) { a(at + k) = s.charAt(k).toByte; k += 1 }
    advance(b, s.length)
  }

  /** The decimal digit count of `v >= 0`. */
  private def digitCount(v: Long): Int = {
    var n = 1
    while (n < 19 && v >= Pow10(n)) n += 1
    n
  }

  /** The last `n` decimal digits of `v >= 0`, zero-padded on the left,
    * into `a` before index `end`.
    */
  private def digits(a: Array[Byte], end: Int, v: Long, n: Int): Unit = {
    var x = v
    var p = end
    while (p > end - n) { p -= 1; a(p) = ('0' + x % 10).toByte; x /= 10 }
  }

  /** int2out/int4out/int8out */
  def putLong(b: ByteBuffer, v: Long): Unit =
    if (v == Long.MinValue) b.put(LongMin)
    else {
      val mag = math.abs(v)
      val n = digitCount(mag)
      val len = if (v < 0) n + 1 else n
      val at = reserve(b, len)
      if (v < 0) b.array(at) = '-'
      digits(b.array, at + len, mag, n)
      advance(b, len)
    }

  /** numeric_out of `unscaled * 10^-scale` for `|unscaled| < 10^18` and
    * `scale >= 0`: `BigDecimal.toPlainString`'s text (`-0.05`, `0.00`,
    * trailing zeros kept).
    */
  def putDecimal(b: ByteBuffer, unscaled: Long, scale: Int): Unit =
    if (scale == 0) putLong(b, unscaled)
    else {
      val mag = math.abs(unscaled)
      val intDigits = math.max(digitCount(mag) - scale, 1)
      val sign = if (unscaled < 0) 1 else 0
      val len = sign + intDigits + 1 + scale
      val at = reserve(b, len)
      val a = b.array
      if (sign == 1) a(at) = '-'
      digits(a, at + sign + intDigits, mag / Pow10(scale), intDigits)
      a(at + sign + intDigits) = '.'
      digits(a, at + len, mag % Pow10(scale), scale)
      advance(b, len)
    }

  /** date_out (DateStyle ISO) of epoch days. */
  def putDate(b: ByteBuffer, days: Int): Unit =
    if (days < MinDay || days > MaxDay) putAscii(b, LocalDate.ofEpochDay(days.toLong).toString)
    else {
      civil(b.array, reserve(b, 10), days)
      advance(b, 10)
    }

  /** `yyyy-mm-dd` of epoch days in years 0 to 9999 into `a` at `at`, by
    * the proleptic Gregorian civil-from-days of H. Hinnant's
    * "chrono-Compatible Low-Level Date Algorithms" (the calendar
    * `java.time` and Spark use).
    */
  private def civil(a: Array[Byte], at: Int, days: Long): Unit = {
    val z = days + 719468
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    digits(a, at + 4, yoe + era * 400 + (if (m <= 2) 1 else 0), 4)
    a(at + 4) = '-'
    digits(a, at + 7, m, 2)
    a(at + 7) = '-'
    digits(a, at + 10, d, 2)
  }

  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  /** timestamp_out of instant micros, as wall-clock time under `rules`. */
  def putTimestamp(b: ByteBuffer, micros: Long, rules: ZoneRules): Unit = {
    val secs = Math.floorDiv(micros, MicrosPerSecond)
    putWallClock(b, secs + rules.getOffset(Instant.ofEpochSecond(secs)).getTotalSeconds,
      Math.floorMod(micros, MicrosPerSecond))
  }

  /** timestamp_out of wall-clock micros (timestamp_ntz). */
  def putTimestampNtz(b: ByteBuffer, micros: Long): Unit =
    putWallClock(b, Math.floorDiv(micros, MicrosPerSecond), Math.floorMod(micros, MicrosPerSecond))

  /** `yyyy-mm-dd hh:mm:ss` of wall-clock epoch seconds, then the `micros`
    * fraction with trailing zeros trimmed. Years outside 0 to 9999 go
    * through `java.time`, which signs them (`+10000-...`), as before.
    */
  private def putWallClock(b: ByteBuffer, secs: Long, micros: Long): Unit = {
    val days = Math.floorDiv(secs, 86400L)
    if (days < MinDay || days > MaxDay) {
      putAscii(b, tsFmt.format(LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC)))
    } else {
      val at = reserve(b, 19)
      val a = b.array
      civil(a, at, days)
      val ofDay = Math.floorMod(secs, 86400L)
      a(at + 10) = ' '
      digits(a, at + 13, ofDay / 3600, 2)
      a(at + 13) = ':'
      digits(a, at + 16, ofDay / 60 % 60, 2)
      a(at + 16) = ':'
      digits(a, at + 19, ofDay % 60, 2)
      advance(b, 19)
    }
    putFraction(b, micros)
  }

  /** `.ffffff` with trailing zeros trimmed, nothing for 0 (PG's
    * AppendSeconds).
    */
  def putFraction(b: ByteBuffer, micros: Long): Unit = if (micros != 0) {
    var f = micros
    var n = 6
    while (f % 10 == 0) { f /= 10; n -= 1 }
    val at = reserve(b, n + 1)
    b.array(at) = '.'
    digits(b.array, at + n + 1, f, n)
    advance(b, n + 1)
  }

  private val Hex = "0123456789abcdef".getBytes(UTF_8)

  /** byteaout with bytea_output = hex: `\x` and two lowercase digits a
    * byte.
    */
  def putBytea(b: ByteBuffer, v: Array[Byte]): Unit = {
    val at = reserve(b, 2 + 2 * v.length)
    val a = b.array
    a(at) = '\\'
    a(at + 1) = 'x'
    var k = 0
    while (k < v.length) {
      a(at + 2 + 2 * k) = Hex((v(k) >> 4) & 0xF)
      a(at + 3 + 2 * k) = Hex(v(k) & 0xF)
      k += 1
    }
    advance(b, 2 + 2 * v.length)
  }

  /** float8out with extra_float_digits >= 1 (PG's default, and what pgjdbc
    * sets): the shortest digits that read back as `v`, plain for decimal
    * exponents -4 to 14 and `d.ddde+XX` beyond.
    */
  def putDouble(b: ByteBuffer, v: Double): Unit =
    if (!putSpecial(b, v) && !putFewDecimals(b, v)) {
      putShortest(b, if (math.abs(v) < java.lang.Double.MIN_NORMAL) subnormal(v, _.doubleValue == v)
        else NumberOutput.toString(v, true), 14)
    }

  private val Pow10D: Array[Double] = Pow10.map(_.toDouble)

  /** Writes `v` from `m` if `v` is the double nearest `m / 10^k` for a
    * `k <= 3` and `|v| < 10^12`; the least such `k` is found. Decimals of
    * `k` places lie 10^-k apart, far wider than an ulp of `v`, so this one
    * is the only one that reads back as `v`, and no shorter one does: it is
    * float8out's text, in its plain range.
    */
  private def putFewDecimals(b: ByteBuffer, v: Double): Boolean = math.abs(v) < 1e12 && {
    var k = 0
    while (k <= 3 && Math.round(v * Pow10D(k)) / Pow10D(k) != v) k += 1
    if (k <= 3) putDecimal(b, Math.round(v * Pow10D(k)), k)
    k <= 3
  }

  /** float4out with extra_float_digits >= 1: as [[putDouble]], plain for
    * decimal exponents -4 to 5.
    */
  def putFloat(b: ByteBuffer, v: Float): Unit =
    if (!putSpecial(b, v)) {
      putShortest(b, if (math.abs(v) < java.lang.Float.MIN_NORMAL) subnormal(v, _.floatValue == v)
        else NumberOutput.toString(v, true), 5)
    }

  /** NaN, the infinities and the signed zeros, as PG spells them. */
  private def putSpecial(b: ByteBuffer, v: Double): Boolean = {
    val s =
      if (v.isNaN) "NaN"
      else if (v == Double.PositiveInfinity) "Infinity"
      else if (v == Double.NegativeInfinity) "-Infinity"
      else if (v == 0) (if (1 / v < 0) "-0" else "0")
      else null
    if (s != null) putAscii(b, s)
    s != null
  }

  /** The shortest decimal that `readsBack`, closest to the subnormal `v`
    * first: Java's `toString` keeps two digits where one reads back
    * (`4.9E-324`), PG's Ryu prints the one (`5e-324`).
    */
  private def subnormal(v: Double, readsBack: java.math.BigDecimal => Boolean): String = {
    val exact = new java.math.BigDecimal(v)
    Iterator.from(1).map(n => exact.round(new MathContext(n, RoundingMode.HALF_EVEN)))
      .find(readsBack).get.toString
  }

  /** Lays out `s`, a finite nonzero value in Java's `toString` form
    * (`-ddd.ddd` or `d.dddE-n`) or `BigDecimal`'s (`dE-n`), as PG's Ryu
    * output: the same significant digits, trailing zeros dropped; plain
    * for decimal exponents -4 to `maxPlain`, else `d.ddde±XX`.
    */
  private def putShortest(b: ByteBuffer, s: String, maxPlain: Int): Unit = {
    val neg = s.charAt(0) == '-'
    val e = { val k = s.indexOf('E'); if (k < 0) s.length else k }
    val dot = { val k = s.indexOf('.'); if (k < 0) e else k }
    var first = if (neg) 1 else 0
    while (s.charAt(first) == '0' || s.charAt(first) == '.') first += 1
    var last = e - 1
    while (s.charAt(last) == '0' || s.charAt(last) == '.') last -= 1
    val n = last - first + 1 - (if (first < dot && dot < last) 1 else 0)
    val exp = (if (first < dot) dot - 1 - first else dot - first) +
      (if (e < s.length) Integer.parseInt(s, e + 1, s.length, 10) else 0)
    val plain = exp >= -4 && exp <= maxPlain
    val sign = if (neg) 1 else 0
    val expDigits = if (math.abs(exp) < 100) 2 else 3
    // `lead` bytes before the digits (`0.000`), a point before digit
    // `point` if any digit follows it, zeros up to digit `point`
    val lead = if (plain && exp < 0) 1 - exp else 0
    val point = if (!plain) 1 else if (exp < 0) -1 else exp + 1
    val len = sign + lead + math.max(n, point) + (if (point > 0 && point < n) 1 else 0) +
      (if (plain) 0 else 2 + expDigits)
    var at = reserve(b, len)
    val a = b.array
    if (neg) { a(at) = '-'; at += 1 }
    if (lead > 0) {
      a(at) = '0'; a(at + 1) = '.'
      java.util.Arrays.fill(a, at + 2, at + lead, '0'.toByte)
      at += lead
    }
    var k = 0
    var p = first
    while (p <= last) {
      if (p != dot) {
        if (k == point) { a(at) = '.'; at += 1 }
        a(at) = s.charAt(p).toByte
        at += 1
        k += 1
      }
      p += 1
    }
    if (plain) while (k < point) { a(at) = '0'; at += 1; k += 1 }
    else {
      a(at) = 'e'
      a(at + 1) = (if (exp < 0) '-' else '+').toByte
      digits(a, at + 2 + expDigits, math.abs(exp), expDigits)
    }
    advance(b, len)
  }
}
