package graft.sql

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** KMV (k-minimum-values / bottom-k) theta sketch — Druid's Theta
  * sketch family re-expressed: approximate distinct counts AND set
  * operations (union via merge, intersection estimates) over mergeable
  * blobs in Complex columns.
  *
  * The retained set is the k smallest DISTINCT values of
  * `h(x) = (a·x + b) mod P` — the same portable modular hash family the
  * text oracles replay (graft.pipeline.TextOps), so the ENTIRE sketch
  * content is reproducible in ANSI SQL: a DuckDB
  * `SELECT DISTINCT h ORDER BY h LIMIT k` produces byte-identical
  * retained sets, making the build→segment→merge→unpack pipeline
  * hash-matchable, like [[FixedHistogram]] and unlike random-seeded
  * DataSketches. Trade-off: P ≈ 10^6 caps usable cardinality well
  * below a production 64-bit-hash sketch — the portability is for the
  * correctness gate, the structure is the production shape.
  *
  * Deterministic and order-independent: build/merge keep the k smallest
  * distinct hashes regardless of insertion or merge order (blob
  * equality under any partitioning).
  *
  * Blob layout (big-endian): [version u8 = 1][k i32][count i32]
  * [hashes i64 × count, ascending].
  */
object Kmv {
  /** Hash family j=0 of TextOps: (7919·x + 733103) mod 1000003. */
  val P: Long = 1000003L
  val A: Long = 7919L
  val B: Long = (104729L * 7) % P

  def hash(x: Long): Long = {
    val h = (A * (x % P) + B) % P
    if (h < 0) h + P else h
  }

  private val Header = 1 + 4 + 4

  def empty(k: Int): Array[Byte] = {
    require(k > 0, s"k must be positive: $k")
    val a = new Array[Byte](Header + 8 * k)
    ByteBuffer.wrap(a).put(1.toByte).putInt(k)
    a
  }

  def k(s: Array[Byte]): Int = ByteBuffer.wrap(s).getInt(1)
  def count(s: Array[Byte]): Int = ByteBuffer.wrap(s).getInt(5)
  def hashAt(s: Array[Byte], i: Int): Long =
    ByteBuffer.wrap(s).getLong(Header + 8 * i)
  def hashes(s: Array[Byte]): Array[Long] =
    Array.tabulate(count(s))(hashAt(s, _))

  /** Insert the HASH of `x`, keeping the k smallest distinct hashes. */
  def add(s: Array[Byte], x: Long): Unit = {
    val bb = ByteBuffer.wrap(s)
    val kk = bb.getInt(1); val n = bb.getInt(5)
    val h = hash(x)
    // binary search over the sorted retained set
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bb.getLong(Header + 8 * mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < n && bb.getLong(Header + 8 * lo) == h) return // already present
    if (n == kk && lo == kk) return                        // larger than max
    val last = if (n == kk) kk - 1 else n                  // slots to shift
    var i = last
    while (i > lo) {
      bb.putLong(Header + 8 * i, bb.getLong(Header + 8 * (i - 1)))
      i -= 1
    }
    bb.putLong(Header + 8 * lo, h)
    if (n < kk) bb.putInt(5, n + 1)
  }

  /** Union: k smallest distinct hashes of both retained sets. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(k(a) == k(b), s"k mismatch: ${k(a)} vs ${k(b)}")
    val kk = k(a)
    val out = empty(kk)
    val ob = ByteBuffer.wrap(out)
    var i = 0; var j = 0; var n = 0
    val na = count(a); val nb = count(b)
    var prev = Long.MinValue
    while (n < kk && (i < na || j < nb)) {
      val ha = if (i < na) hashAt(a, i) else Long.MaxValue
      val hb = if (j < nb) hashAt(b, j) else Long.MaxValue
      val h = math.min(ha, hb)
      if (ha == h) i += 1
      if (hb == h) j += 1
      if (h != prev) { ob.putLong(Header + 8 * n, h); n += 1; prev = h }
    }
    ob.putInt(5, n)
    out
  }

  /** Distinct-count estimate: exact below k, else (k-1)·P / h_k. */
  def estimate(s: Array[Byte]): Long = {
    val n = count(s)
    if (n < k(s) || n == 0) n.toLong
    else math.round((n - 1).toDouble * P / hashAt(s, n - 1))
  }

  /** Theta-sketch intersection estimate: restrict both retained sets to
    * hashes below the smaller theta, count the overlap, scale by P/theta.
    */
  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val thetaA = if (count(a) < k(a)) P else hashAt(a, count(a) - 1)
    val thetaB = if (count(b) < k(b)) P else hashAt(b, count(b) - 1)
    val theta = math.min(thetaA, thetaB)
    val ha = hashes(a).takeWhile(_ < theta).toSet
    val hb = hashes(b).takeWhile(_ < theta).toSet
    math.round(ha.intersect(hb).size.toDouble * P / theta)
  }
}

/** Build a KMV sketch from a column of longs. */
class KmvBuildAgg(k: Int) extends Aggregator[Long, Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = Kmv.empty(k)
  def reduce(b: Array[Byte], v: Long): Array[Byte] = { Kmv.add(b, v); b }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Kmv.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Merge pre-built KMV blobs (e.g. a segment's COMPLEX column). */
class KmvMergeAgg(k: Int)
    extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = Kmv.empty(k)
  def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] =
    if (v == null) b else Kmv.merge(b, v)
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Kmv.merge(a, b)
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object KmvFunctions {
  def kmvBuild(c: Column, k: Int): Column =
    functions.udaf(new KmvBuildAgg(k)).apply(c)
  def kmvMerge(c: Column, k: Int): Column =
    functions.udaf(new KmvMergeAgg(k)).apply(c)
  /** The retained hash set as array<bigint> (for exact unpack gates). */
  def kmvHashes(c: Column): Column =
    functions.udf((b: Array[Byte]) =>
      if (b == null) Array.empty[Long] else Kmv.hashes(b)).apply(c)
  /** Theta-sketch intersection estimate of two sketches (deterministic:
    * retained sets and theta are order-independent, so the estimate is
    * reproducible in SQL — unlike random-seeded sketch libraries).
    * A null sketch intersects to 0.
    */
  def kmvIntersect(a: Column, b: Column): Column =
    functions.udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) 0L else Kmv.intersectEstimate(x, y))
      .apply(a, b)
}
