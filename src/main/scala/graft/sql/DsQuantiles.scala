package graft.sql

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantiles.{DoublesSketch, DoublesUnion}
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

/** Apache DataSketches quantiles (DoublesSketch) over the wire format
  * of Druid's `quantilesDoublesSketch` aggregator (datasketches-java
  * ships with Spark) — the third real-interop sketch family next to
  * HLL (graft.sql.DsTheta's scaladoc) and Theta: a Druid deployment's
  * latency/size rollup segments carry exactly these blobs.
  *
  * Determinism for the oracle gate: while total retained n stays within
  * the sketch's exact regime (base buffer, n <= 2k), every quantile is
  * an EXACT order statistic — `getQuantile(q, INCLUSIVE)` returns the
  * item at 1-based rank `max(1, ceil(q*n))` of the sorted values —
  * independent of build/merge order, so DuckDB replays it with a
  * window rank. (Serialized blob BYTES do depend on insertion order in
  * exact mode — the base buffer is unsorted — which is why the gate
  * compares quantile values, never blob bytes.) Beyond 2k the sketch
  * degrades gracefully to Druid-compatible approximation.
  */
object DsQuantiles {
  def fromValues(vs: Seq[Double], k: Int): Array[Byte] = {
    val sk = DoublesSketch.builder().setK(k).build()
    vs.foreach(sk.update)
    sk.toByteArray(true)
  }

  def unionAll(bs: Seq[Array[Byte]], maxK: Int): Array[Byte] = {
    val u = DoublesUnion.builder().setMaxK(maxK).build()
    bs.foreach(b => u.union(DoublesSketch.wrap(Memory.wrap(b))))
    u.getResult.toByteArray(true)
  }

  /** Empty-sketch blob (the all-null-group result). */
  def empty(k: Int): Array[Byte] =
    DoublesSketch.builder().setK(k).build().toByteArray(true)

  def n(b: Array[Byte]): Long =
    if (b == null) 0L else DoublesSketch.wrap(Memory.wrap(b)).getN

  /** Quantile, or null for a null/empty sketch (datasketches throws on
    * getQuantile over an empty sketch; every sibling sketch reader
    * degrades instead of crashing, so this one does too).
    */
  def quantile(b: Array[Byte], q: Double): java.lang.Double = {
    if (b == null) return null
    val sk = DoublesSketch.wrap(Memory.wrap(b))
    if (sk.isEmpty) null
    else sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
  }
}

/** Merge pre-built DoublesSketch blobs (a segment's COMPLEX column) —
  * Druid's quantilesDoublesSketch merge aggregator on Spark, batched
  * via [[BlobFoldAgg]].
  */
class DsQuantilesUnionAgg(maxK: Int) extends BlobFoldAgg {
  protected def foldAll(bs: Seq[Array[Byte]]): Array[Byte] =
    DsQuantiles.unionAll(bs, maxK)
  protected def onEmpty: Array[Byte] = DsQuantiles.empty(maxK)
}
