package graft.sql

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Dense HyperLogLog sketch (2^11 registers) for the Complex-column
  * sketch story: the reference maps Druid Complex columns to Binary but
  * errors on read (src/column/mod.rs:59-61) and cannot merge them. Our
  * segments carry these blobs in COMPLEX columns (graft.format writes/
  * reads them), and the aggregators below build/merge/estimate them in
  * SQL — the Druid "hyperUnique at query time" shape on Spark.
  *
  * Standard algorithm (Flajolet et al.; bias correction per the HLL
  * paper), splitmix64 hash. Blob layout: [version 0x01][p u8][registers
  * 2^p bytes] — our own format; Druid's proprietary HLL encoding is
  * deliberately not reproduced.
  */
object Hll {
  val P = 11
  val M: Int = 1 << P
  private val ALPHA = 0.7213 / (1 + 1.079 / M)

  def empty: Array[Byte] = {
    val a = new Array[Byte](2 + M)
    a(0) = 1; a(1) = P.toByte
    a
  }

  /** splitmix64 finalizer — public-domain mixing function. */
  def hash(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def add(sketch: Array[Byte], value: Long): Unit = {
    val h = hash(value)
    val idx = (h >>> (64 - P)).toInt
    val rank = (java.lang.Long.numberOfLeadingZeros(h << P | (1L << (P - 1))) + 1).toByte
    if (sketch(2 + idx) < rank) sketch(2 + idx) = rank
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a(1) == b(1), "HLL precision mismatch")
    val out = a.clone()
    var i = 2
    while (i < out.length) {
      if (b(i) > out(i)) out(i) = b(i)
      i += 1
    }
    out
  }

  def estimate(sketch: Array[Byte]): Long = {
    var sum = 0.0
    var zeros = 0
    var i = 2
    while (i < sketch.length) {
      sum += 1.0 / (1L << (sketch(i) & 0xff)).toDouble
      if (sketch(i) == 0) zeros += 1
      i += 1
    }
    val raw = ALPHA * M * M / sum
    val corrected =
      if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) // linear counting
      else raw
    math.round(corrected)
  }
}

/** Build a sketch from a column of longs. */
class HllBuildAgg extends Aggregator[Long, Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = Hll.empty
  def reduce(b: Array[Byte], v: Long): Array[Byte] = { Hll.add(b, v); b }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Merge pre-built sketch blobs (e.g. a segment's COMPLEX column). */
class HllMergeAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = Hll.empty
  def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] =
    if (v == null) b else Hll.merge(b, v)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object HllFunctions {
  def hllBuild(c: Column): Column = functions.udaf(new HllBuildAgg).apply(c)
  def hllMerge(c: Column): Column = functions.udaf(new HllMergeAgg).apply(c)
  def hllEstimate(c: Column): Column =
    functions.udf((b: Array[Byte]) => if (b == null) 0L else Hll.estimate(b)).apply(c)
}
