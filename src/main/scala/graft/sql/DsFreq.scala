package graft.sql

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

/** Blob-side helpers for the DataSketches Frequent-Items family
  * ([[FreqItemsSketchAgg]] builds the blobs). Determinism: while the
  * stream's distinct count stays under the sketch's purge threshold
  * the sketch is exact (`getMaximumError == 0`) and `topK` returns
  * true counts in a total order (estimate desc, item asc) — the
  * regime the oracle gate runs in. Past the threshold the same calls
  * return Misra-Gries estimates with the documented error bound.
  */
object DsFreq {
  private def serde = new ArrayOfStringsSerDe

  private def heap(b: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance[String](Memory.wrap(b), serde)

  /** Top-k (item, estimate) by estimate desc, item asc as tie-break —
    * a total order, so equal-count boundary items resolve the same way
    * every run (and the same way as a `row_number() ... ORDER BY n
    * DESC, item` oracle).
    */
  def topK(b: Array[Byte], k: Int): Array[(String, Long)] = {
    if (b == null) return Array.empty
    heap(b).getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => (r.getItem, r.getEstimate))
      .sortBy { case (item, est) => (-est, item) }
      .take(k)
  }

  /** Estimated count of one item (exact under the purge threshold). */
  def estimate(b: Array[Byte], item: String): Long =
    if (b == null || item == null) 0L else heap(b).getEstimate(item)

  /** Maximum estimation error across items; 0 means the sketch never
    * purged and every estimate is an exact count.
    */
  def maxError(b: Array[Byte]): Long =
    if (b == null) 0L else heap(b).getMaximumError
}
