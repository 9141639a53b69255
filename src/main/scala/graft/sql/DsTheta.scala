package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, UpdateSketch}

/** Apache DataSketches Theta sketches over the wire format Druid's own
  * `thetaSketch` aggregator reads and writes (datasketches-java ships
  * with Spark) — the real-interop counterpart of our KMV theta family
  * (graft.sql.Kmv): a Druid user's rollup segments carry exactly these
  * CompactSketch blobs, and these helpers merge/intersect/difference
  * them in Spark SQL.
  *
  * Determinism: a compact ORDERED sketch of a value set is the sorted
  * array of retained hashes — independent of build/update order — and
  * below k (default 4096 entries) the sketch is in exact mode, so
  * build → COMPLEX column → cross-segment union → set ops → estimate
  * is replayable by an exact-DISTINCT oracle.
  */
object DsTheta {
  private def heap(b: Array[Byte]): CompactSketch =
    Sketches.heapifyCompactSketch(Memory.wrap(b))

  def empty: Array[Byte] =
    UpdateSketch.builder().build().compact(true, null).toByteArray

  /** Ordered compact sketch of a value set (the Druid
    * thetaSketchBuild shape).
    */
  def fromValues(vs: Seq[Long]): Array[Byte] = {
    val sk = UpdateSketch.builder().build()
    vs.foreach(v => sk.update(v))
    sk.compact(true, null).toByteArray
  }

  def unionBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    unionAll(Seq(a, b))

  /** One Union pass over many blobs — theta union is associative and
    * the ordered compact result is fold-structure-independent, so
    * batched folding gives bit-identical output to pairwise folding.
    */
  def unionAll(bs: Seq[Array[Byte]]): Array[Byte] = {
    val u = SetOperation.builder().buildUnion()
    bs.foreach(b => u.union(Memory.wrap(b)))
    u.getResult(true, null).toByteArray
  }

  def intersectBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(heap(a))
    i.intersect(heap(b))
    i.getResult(true, null).toByteArray
  }

  def aNotBBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val d = SetOperation.builder().buildANotB()
    d.setA(heap(a))
    d.notB(heap(b))
    d.getResult(true, null, true).toByteArray
  }

  def estimate(b: Array[Byte]): Long = math.round(heap(b).getEstimate)

  /** Unrounded estimate — Druid's THETA_SKETCH_ESTIMATE returns DOUBLE. */
  def estimateDouble(b: Array[Byte]): java.lang.Double =
    if (b == null) null else heap(b).getEstimate
}

/** Merge pre-built DataSketches theta blobs (a segment's COMPLEX
  * column) — the Druid thetaSketchMerge aggregator on Spark. Null
  * inputs (conditional aggregation) are skipped; batched folding via
  * [[BlobFoldAgg]] keeps per-group cost O(rows), bit-identical to the
  * pairwise fold (theta union is associative, ordered-compact output
  * is fold-structure independent).
  */
class DsThetaUnionAgg extends BlobFoldAgg {
  protected def foldAll(bs: Seq[Array[Byte]]): Array[Byte] =
    DsTheta.unionAll(bs)
  protected def onEmpty: Array[Byte] = DsTheta.empty
}

object DsThetaFunctions {
  def thetaUnion(c: Column): Column = functions.udaf(new DsThetaUnionAgg).apply(c)
  def thetaEstimate(c: Column): Column =
    functions.udf((b: Array[Byte]) => if (b == null) 0L else DsTheta.estimate(b)).apply(c)
  def thetaIntersect(a: Column, b: Column): Column =
    functions.udf((x: Array[Byte], y: Array[Byte]) => DsTheta.intersectBytes(x, y)).apply(a, b)
  def thetaANotB(a: Column, b: Column): Column =
    functions.udf((x: Array[Byte], y: Array[Byte]) => DsTheta.aNotBBytes(x, y)).apply(a, b)
}
