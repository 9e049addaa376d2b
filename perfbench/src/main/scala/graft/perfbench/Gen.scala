package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** SplitMix64: a small, fast, fully specified generator, so a seed gives
  * the same stream on every JVM.
  */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** uniform in [0, 1) */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** uniform in [0, n) */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def shuffle[T](xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** Zipf-distributed keys over [0, n): rank r is drawn with weight
  * 1/(r+1)^s, and ranks map to keys through a seeded affine permutation,
  * so which keys are hot changes with the seed while the skew does not.
  * Draws take the caller's generator, so clients share the hot keys but
  * not the sequence.
  */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    var acc = 0.0
    val c = new Array[Double](n)
    var i = 0
    while (i < n) { acc += w(i); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }
  private val stride: Long = {
    var a = (new Rng(seed ^ 0x5DEECE66DL).nextLong() >>> 1) % n
    while (a == 0 || gcd(a, n) != 1) a = (a + 1) % n
    a
  }
  private val offset: Long = (new Rng(seed ^ 0xB5L).nextLong() >>> 1) % n
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  def rank(rng: Rng): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
  def next(rng: Rng): Long = (rank(rng) * stride + offset) % n
}

/** A block of `COPY ... FROM STDIN` text rows `k \t v \t s`, with the
  * count and key sum the sink must hold after loading it.
  */
final case class CopyBlock(bytes: Array[Byte], rows: Int, sumK: Long)

object CopyGen {
  def block(seed: Long, rep: Int, rows: Int): CopyBlock = {
    val rng = new Rng(seed * 1000003L + rep)
    val sb = new StringBuilder(rows * 40)
    var sum = 0L
    var i = 0
    while (i < rows) {
      val k = rng.nextLong() >>> 24
      val cents = rng.nextInt(10000000)
      sum += k
      sb.append(k).append('\t')
        .append(cents / 100).append('.').append(f"${cents % 100}%02d").append('\t')
        .append(DataGen.Words(rng.nextInt(DataGen.Words.size)))
        .append('_').append(rng.nextInt(1000)).append('\n')
      i += 1
    }
    CopyBlock(sb.toString.getBytes(UTF_8), rows, sum)
  }
}
