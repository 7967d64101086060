package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Seeded, stateless randomness: every generated value is a pure function
  * of (seed, stream, index), so Spark tasks and the driver-side model
  * derive the same rows independently and the same seed always gives the
  * same inputs.
  */
object Rand {
  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def at(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(at(seed, stream, i), n)

  /** Uniform in [lo, hi). */
  def between(seed: Long, stream: Long, i: Long, lo: Double, hi: Double): Double =
    lo + (at(seed, stream, i) >>> 11) * (1.0 / (1L << 53)) * (hi - lo)
}

/** Row checksum that Spark computes as `xxhash64(c1, …, cn)`, reproduced
  * on the driver from the generated values: the model's checksum is the
  * XOR over live rows, compared with `bit_xor(xxhash64(...))` of the
  * engine's table. Rows carry unique ids, so XOR cannot cancel.
  */
final class RowHash {
  private var h = 42L
  def long(v: Long): RowHash = { h = XXH64.hashLong(v, h); this }
  def str(s: String): RowHash = {
    val u = UTF8String.fromString(s)
    h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
    this
  }
  /** TIMESTAMP values hash as their microseconds since the epoch. */
  def tsSeconds(sec: Long): RowHash = long(sec * 1000000L)
  def value: Long = h
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of `ys` against their index. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size
      val mx = (n - 1) / 2.0
      val my = mean(ys)
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
}
