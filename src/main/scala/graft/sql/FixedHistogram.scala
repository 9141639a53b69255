package graft.sql

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Fixed-buckets histogram sketch — Druid's FixedBucketsHistogram
  * aggregator re-expressed for the Complex-column sketch story (the
  * second sketch family next to [[Hll]]; the reference errors on all
  * Complex columns, src/column/mod.rs:59-61).
  *
  * Unlike KLL/DataSketches quantiles, this sketch is DETERMINISTIC and
  * ORDER-INDEPENDENT: bucket counts are exact, merge is bin-wise
  * addition, and only quantile interpolation is approximate (error
  * bounded by one bucket width). That makes the whole pipeline —
  * per-group build, segment COMPLEX round-trip, cross-segment merge,
  * unpack — hash-matchable against an exact SQL histogram, a stronger
  * gate than rows-only sketch checks.
  *
  * Blob layout (big-endian): [version u8 = 1][numBuckets i32][lo f64]
  * [hi f64][lowerOob i64][upperOob i64][counts i64 × numBuckets].
  * Bucket i covers [lo + i·w, lo + (i+1)·w) with w = (hi-lo)/n;
  * v < lo → lowerOob, v >= hi → upperOob.
  */
object FixedHistogram {

  private def headerSize = 1 + 4 + 8 + 8 + 8 + 8

  def empty(n: Int, lo: Double, hi: Double): Array[Byte] = {
    require(n > 0 && hi > lo, s"bad histogram config n=$n lo=$lo hi=$hi")
    val a = new Array[Byte](headerSize + 8 * n)
    val bb = ByteBuffer.wrap(a)
    bb.put(1.toByte).putInt(n).putDouble(lo).putDouble(hi)
    a
  }

  def numBuckets(s: Array[Byte]): Int = ByteBuffer.wrap(s).getInt(1)
  def lo(s: Array[Byte]): Double = ByteBuffer.wrap(s).getDouble(5)
  def hi(s: Array[Byte]): Double = ByteBuffer.wrap(s).getDouble(13)
  def lowerOob(s: Array[Byte]): Long = ByteBuffer.wrap(s).getLong(21)
  def upperOob(s: Array[Byte]): Long = ByteBuffer.wrap(s).getLong(29)
  def count(s: Array[Byte], i: Int): Long =
    ByteBuffer.wrap(s).getLong(headerSize + 8 * i)

  def add(s: Array[Byte], v: Double): Unit = {
    val bb = ByteBuffer.wrap(s)
    val n = bb.getInt(1); val l = bb.getDouble(5); val h = bb.getDouble(13)
    if (v < l) bb.putLong(21, bb.getLong(21) + 1)
    else if (v >= h) bb.putLong(29, bb.getLong(29) + 1)
    else {
      val i = ((v - l) / ((h - l) / n)).toInt.min(n - 1)
      val off = headerSize + 8 * i
      bb.putLong(off, bb.getLong(off) + 1)
    }
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && numBuckets(a) == numBuckets(b) &&
      lo(a) == lo(b) && hi(a) == hi(b), "histogram config mismatch")
    val out = a.clone()
    val ob = ByteBuffer.wrap(out); val bb = ByteBuffer.wrap(b)
    var off = 21
    while (off < out.length) {
      ob.putLong(off, ob.getLong(off) + bb.getLong(off))
      off += 8
    }
    out
  }

  /** Quantile estimate by linear interpolation inside the covering
    * bucket (oob mass clamps to the range ends). Error ≤ one bucket
    * width for in-range data.
    */
  def quantile(s: Array[Byte], phi: Double): Double = {
    require(phi >= 0 && phi <= 1, s"phi out of range: $phi")
    val n = numBuckets(s); val l = lo(s); val h = hi(s)
    val w = (h - l) / n
    val total = lowerOob(s) + upperOob(s) +
      (0 until n).map(count(s, _)).sum
    if (total == 0) return Double.NaN
    val target = phi * total
    var acc = lowerOob(s).toDouble
    if (target <= acc && lowerOob(s) > 0) return l
    var i = 0
    while (i < n) {
      val c = count(s, i)
      if (c > 0 && target <= acc + c)
        return l + w * (i + (target - acc) / c)
      acc += c
      i += 1
    }
    h
  }
}

/** Build a histogram from a column of doubles (nulls must be filtered
  * upstream — bucket semantics for null are undefined).
  */
class HistBuildAgg(n: Int, lo: Double, hi: Double)
    extends Aggregator[Double, Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = FixedHistogram.empty(n, lo, hi)
  def reduce(b: Array[Byte], v: Double): Array[Byte] = {
    FixedHistogram.add(b, v); b
  }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    FixedHistogram.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Merge pre-built histogram blobs (e.g. a segment's COMPLEX column). */
class HistMergeAgg(n: Int, lo: Double, hi: Double)
    extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = FixedHistogram.empty(n, lo, hi)
  def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] =
    if (v == null) b else FixedHistogram.merge(b, v)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    FixedHistogram.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object HistFunctions {
  /** Column helpers bound to one histogram config. */
  def histBuild(c: Column, n: Int, lo: Double, hi: Double): Column =
    functions.udaf(new HistBuildAgg(n, lo, hi)).apply(c)
  def histMerge(c: Column, n: Int, lo: Double, hi: Double): Column =
    functions.udaf(new HistMergeAgg(n, lo, hi)).apply(c)

  /** All bucket counts incl. oob: [lowerOob, c0..c(n-1), upperOob] —
    * index i-1 is bucket i's count, so `posexplode` gives (bucket+1).
    */
  def histCounts(c: Column): Column =
    functions.udf((b: Array[Byte]) =>
      if (b == null) Array.empty[Long]
      else {
        val n = FixedHistogram.numBuckets(b)
        FixedHistogram.lowerOob(b) +:
          Array.tabulate(n)(FixedHistogram.count(b, _)) :+
          FixedHistogram.upperOob(b)
      }).apply(c)
}
