package graft.sources.druid

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.format._

/** Executor-side vectorized reader. Opens the segment's mmap, decodes
  * only the compressed blocks covering [rowStart, rowEnd), and emits
  * ColumnarBatches that flow straight into whole-stage codegen.
  *
  * The reference decodes whole columns into one batch on a single
  * thread (src/datafusion_ext/execution_plan.rs:95-116); here every
  * split streams `DruidScan.BatchSize` rows at a time with one cached block per
  * column — memory per task is O(batch + one block per column).
  */
class DruidPartitionReaderFactory(required: StructType)
    extends PartitionReaderFactory {

  // every column type reads vectorized (multi-value strings included)
  override def supportColumnarReads(p: InputPartition): Boolean =
    !p.isInstanceOf[MetaAggPartition] && !p.isInstanceOf[GroupByDimPartition]

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new DruidColumnarReader(p.asInstanceOf[DruidInputPartition], required)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    p match {
      case MetaAggPartition(values) =>
        // pushed-down count/min/max: one row from segment metadata
        return new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
          override def close(): Unit = ()
        }
      case g: GroupByDimPartition => return new GroupByDimReader(g)
      case _ => ()
    }
    val columnar = createColumnarReader(p)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] = _
      override def next(): Boolean = {
        while (rows == null || !rows.hasNext) {
          if (!columnar.next()) return false
          rows = columnar.get().rowIterator()
        }
        true
      }
      override def get(): InternalRow = rows.next()
      override def close(): Unit = columnar.close()
    }
  }
}

/** Partial GROUP BY <dim>, COUNT(*) over one segment: emits the
  * dictionary's (value, count) pairs from bitmap cardinalities (ids
  * pass when bitmaps are absent) — O(dictionary) output rows with zero
  * row decode; Spark's final aggregate sums the per-segment partials.
  * A schema-evolved segment without the column is one all-null group.
  */
private[druid] final class GroupByDimReader(part: GroupByDimPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val pairs: Iterator[(UTF8String, Long)] = {
    val segment = DruidSegment.open(part.dir)
    if (!segment.columnNames.contains(part.dim))
      Iterator((null, part.rows.toLong)).filter(_._2 > 0)
    else segment.column(part.dim) match {
      case StringColumnData(sc) =>
        val dictN = sc.dictionary.numElements
        val counts: Int => Long =
          if (sc.bitmaps.isDefined)
            i => sc.bitmapFor(i).get.getCardinality.toLong
          else {
            val all = new Array[Long](dictN)
            var r = 0
            val len = sc.length
            while (r < len) { all(sc.ids.get(r)) += 1; r += 1 }
            all(_)
          }
        // one lazy sequential dictionary pass (front-coded dictionaries
        // decode per bucket, not per id; nothing materializes)
        sc.dictionary.entriesIterator.zipWithIndex.map { case (b, i) =>
          (if (b == null) null else UTF8String.fromBytes(b), counts(i))
        }.filter(_._2 > 0)
      case other => throw new IllegalStateException(
        s"group-by pushdown on non-string column ${part.dim}: $other")
    }
  }

  private var current: (UTF8String, Long) = _
  override def next(): Boolean = {
    if (!pairs.hasNext) return false
    current = pairs.next(); true
  }
  override def get(): InternalRow = {
    val row = new Array[Any](1 + part.nAggs)
    row(0) = current._1
    var i = 1
    while (i <= part.nAggs) { row(i) = current._2: java.lang.Long; i += 1 }
    new GenericInternalRow(row)
  }
  override def close(): Unit = ()
}

/** Adapter exposing a decoded druid dictionary to Spark's vectorized
  * dictionary mechanism (binary/string only).
  */
private[druid] final class GraftDictionary(bytes: Array[Array[Byte]])
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] = bytes(id)
  override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
  override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
  override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
  override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
}

private[druid] object RowSelection {
  /** Selected row positions for a split, from (a) bitmap-indexed string
    * equality/IN filters (positive sets) and (b) pushed IS NOT NULL
    * filters served by the null-bitmap trailers (negative sets). null =
    * all rows in [rowStart, rowEnd); empty = the whole split skips
    * (e.g. IS NOT NULL on a column this schema-evolved segment never
    * had — every row is null there).
    */
  def build(segment: DruidSegment, part: DruidInputPartition): Array[Int] = {
    val applicable = part.dimFilters.toSeq.flatMap { case (name, values) =>
      if (!segment.columnNames.contains(name)) None
      else segment.column(name) match {
        case StringColumnData(sc) if sc.bitmaps.isDefined =>
          val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
          values.map(sc.dictIdOf).filter(_ >= 0)
            .foreach(id => sc.bitmapFor(id).foreach(acc.or))
          Some(acc)
        case _ => None
      }
    }
    // OR/AND trees over dictionary predicates: Druid's filter model is
    // boolean algebra over bitmap indexes, and so is this — leaves
    // resolve to per-value bitmaps (equality, IN, the LIKE family),
    // OR unions, AND intersects. A leaf the bitmaps can't serve makes
    // its subtree a no-restriction superset (AND keeps the other side,
    // OR gives up), which is always sound: Spark's residual re-check
    // has the final word on every row.
    def bitmapOf(f: org.apache.spark.sql.sources.Filter):
        Option[org.roaringbitmap.buffer.MutableRoaringBitmap] = {
      import org.apache.spark.sql.sources._
      def stringCol(c: String):
          Option[Either[Unit, graft.format.StringColumn]] =
        if (!segment.columnNames.contains(c)) Some(Left(())) // absent: all null
        else segment.column(c) match {
          case StringColumnData(sc) if sc.bitmaps.isDefined => Some(Right(sc))
          case _ => None
        }
      def ofValues(c: String, vs: Seq[String]):
          Option[org.roaringbitmap.buffer.MutableRoaringBitmap] =
        stringCol(c).map {
          case Left(()) => new org.roaringbitmap.buffer.MutableRoaringBitmap()
          case Right(sc) =>
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            vs.map(sc.dictIdOf).filter(_ >= 0)
              .foreach(id => sc.bitmapFor(id).foreach(acc.or))
            acc
        }
      def ofDictScan(c: String, matches: String => Boolean):
          Option[org.roaringbitmap.buffer.MutableRoaringBitmap] =
        stringCol(c).map {
          case Left(()) => new org.roaringbitmap.buffer.MutableRoaringBitmap()
          case Right(sc) =>
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            // lazy sequential pass: O(dictionary) on both dict shapes
            sc.dictionary.entriesIterator.zipWithIndex.foreach {
              case (b, id) =>
                if (b != null && matches(new String(b, "UTF-8")))
                  sc.bitmapFor(id).foreach(acc.or)
            }
            acc
        }
      f match {
        case Or(a, b) =>
          for (x <- bitmapOf(a); y <- bitmapOf(b)) yield { x.or(y); x }
        case And(a, b) => (bitmapOf(a), bitmapOf(b)) match {
          case (Some(x), Some(y)) => x.and(y); Some(x)
          case (Some(x), None) => Some(x) // superset: residual verifies
          case (None, y) => y
        }
        case EqualTo(c, v: String) => ofValues(c, Seq(v))
        case EqualNullSafe(c, v: String) => ofValues(c, Seq(v))
        case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
          ofValues(c, vs.toSeq.map(_.asInstanceOf[String]))
        case StringStartsWith(c, p) if p.nonEmpty =>
          stringCol(c).map {
            case Left(()) => new org.roaringbitmap.buffer.MutableRoaringBitmap()
            case Right(sc) =>
              val (lo, hi) = sc.dictIdRangeForPrefix(p)
              val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
              (lo until hi).foreach(id => sc.bitmapFor(id).foreach(acc.or))
              acc
          }
        case StringContains(c, v) if v.nonEmpty =>
          ofDictScan(c, _.contains(v))
        case StringEndsWith(c, v) if v.nonEmpty =>
          ofDictScan(c, _.endsWith(v))
        case _ => None // numeric/time/null leaves: not bitmap-served
      }
    }
    val orSets = part.orFilters.flatMap(bitmapOf)
    // contains / ends-with: one pass over the dictionary (cardinality
    // << rows), bitmap union of matching entries — Druid's LIKE family
    // without decoding a single row
    val patternSets = part.patternFilters.toSeq.flatMap { case (name, pats) =>
      if (!segment.columnNames.contains(name)) Nil
      else segment.column(name) match {
        case StringColumnData(sc) if sc.bitmaps.isDefined =>
          pats.map { pat =>
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            // lazy sequential pass per pattern: O(dictionary) each
            sc.dictionary.entriesIterator.zipWithIndex.foreach {
              case (b, id) =>
                if (b != null) {
                  val v = new String(b, "UTF-8")
                  if (if (pat.kind == "contains") v.contains(pat.pattern)
                      else v.endsWith(pat.pattern))
                    sc.bitmapFor(id).foreach(acc.or)
                }
            }
            acc
          }
        case _ => Nil
      }
    }
    // prefix (LIKE 'p%') filters: the UTF-8-sorted dictionary makes the
    // matching values a contiguous id range — one bitmap union per
    // prefix, AND across prefixes/columns (same residual-verified
    // contract as the equality sets above)
    val prefixSets = part.prefixFilters.toSeq.flatMap { case (name, prefixes) =>
      if (!segment.columnNames.contains(name)) Nil
      else segment.column(name) match {
        case StringColumnData(sc) if sc.bitmaps.isDefined =>
          prefixes.map { p =>
            val (lo, hi) = sc.dictIdRangeForPrefix(p)
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            (lo until hi).foreach(id => sc.bitmapFor(id).foreach(acc.or))
            acc
          }
        case _ => Nil
      }
    }
    // comparator bounds (version/alphanumeric/strlen/lexicographic):
    // the comparator runs once per DICTIONARY VALUE (cardinality <<
    // rows) with the bound side pre-computed, qualifying ids union
    // their bitmaps — Druid's bound-filter execution. A column absent
    // from this schema-evolved segment is all-null: a bound never
    // matches null, so the selection is empty.
    val boundSets = part.boundFilters.toSeq.flatMap { case (name, bs) =>
      if (!segment.columnNames.contains(name))
        bs.headOption.map(_ =>
          new org.roaringbitmap.buffer.MutableRoaringBitmap()).toSeq
      else segment.column(name) match {
        case StringColumnData(sc) if sc.bitmaps.isDefined =>
          bs.map { b =>
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            if (b.ordering == "lexicographic" || b.ordering.isEmpty) {
              // the dictionary IS sorted in unsigned UTF-8 order, so a
              // lexicographic bound selects a CONTIGUOUS id range —
              // two O(log dict) searches, not a dictionary scan
              val lo = b.lower
                .map(s => sc.dictIdBound(s.getBytes("UTF-8"), b.lowerStrict))
                .getOrElse(sc.dictIdBound(Array.emptyByteArray, strict = false))
              val hi = b.upper
                .map(s => sc.dictIdBound(s.getBytes("UTF-8"), !b.upperStrict))
                .getOrElse(sc.dictionary.numElements)
              (lo until hi).foreach(id => sc.bitmapFor(id).foreach(acc.or))
            } else {
              // comparator orderings don't follow dictionary order:
              // one pass, comparator per dictionary VALUE (never per
              // row), bound side pre-computed
              val pred = DimBound.predicate(b)
              sc.dictionary.entriesIterator.zipWithIndex.foreach {
                case (bytes, id) =>
                  if (bytes != null && pred(bytes))
                    sc.bitmapFor(id).foreach(acc.or)
              }
            }
            acc
          }
        // multi-value dimension: a value's bitmap marks rows whose
        // ARRAY contains it, so the same per-dictionary-value
        // qualification unions to "rows where ANY value satisfies the
        // bound" — Druid's bound semantics on MV dims. The caller's
        // exists(...) predicate stays the residual final word.
        case MultiStringColumnData(mc) if mc.bitmaps.isDefined =>
          bs.map { b =>
            val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
            if (b.ordering == "lexicographic" || b.ordering.isEmpty) {
              val lo = b.lower
                .map(s => mc.dictIdBound(s.getBytes("UTF-8"), b.lowerStrict))
                .getOrElse(mc.dictIdBound(Array.emptyByteArray, strict = false))
              val hi = b.upper
                .map(s => mc.dictIdBound(s.getBytes("UTF-8"), !b.upperStrict))
                .getOrElse(mc.dictionary.numElements)
              (lo until hi).foreach(id => mc.bitmapFor(id).foreach(acc.or))
            } else {
              val pred = DimBound.predicate(b)
              mc.dictionary.entriesIterator.zipWithIndex.foreach {
                case (bytes, id) =>
                  if (bytes != null && pred(bytes))
                    mc.bitmapFor(id).foreach(acc.or)
              }
            }
            acc
          }
        case _ => Nil // no dictionary/bitmaps: the residual decides
      }
    }
    // multi-value CONTAINS clauses: each clause unions the per-value
    // bitmaps of its values over the MV column's bitmap section (a
    // value's bitmap marks rows whose ARRAY contains it — Druid's
    // selector semantics on MV dims), clauses AND below. A column this
    // schema-evolved segment never had is all-null: contains matches
    // nothing, the clause selects no rows. An MV column without a
    // bitmap section contributes nothing (residual decides).
    val mvSets = part.mvContains.flatMap { case (name, values) =>
      if (!segment.columnNames.contains(name))
        Some(new org.roaringbitmap.buffer.MutableRoaringBitmap())
      else segment.column(name) match {
        case MultiStringColumnData(mc) if mc.bitmaps.isDefined =>
          val acc = new org.roaringbitmap.buffer.MutableRoaringBitmap()
          values.map(mc.dictIdOf).filter(_ >= 0)
            .foreach(id => mc.bitmapFor(id).foreach(acc.or))
          Some(acc)
        case _ => None
      }
    }
    // nested-field equality clauses: served from the NestedCommonFormat
    // column's per-field value bitmaps (a superset selection, the
    // compiled get_json_object predicate is the residual). An absent
    // column is all-null — text null never equals a literal, zero rows.
    // A blob-encoded json column has no field bitmaps: residual decides.
    val neSets = part.nestedEq.flatMap { case (name, path, values) =>
      if (!segment.columnNames.contains(name))
        Some(new org.roaringbitmap.buffer.MutableRoaringBitmap())
      else segment.column(name) match {
        case NestedColumnData(nc) => nc.eqBitmap(path, values)
        case _ => None
      }
    }
    def trailerOf(name: String): Option[org.roaringbitmap.buffer.ImmutableRoaringBitmap] =
      segment.column(name) match {
        case LongColumnData(_, nulls) if nulls != null => Some(nulls)
        case DoubleColumnData(_, nulls) if nulls != null => Some(nulls)
        case FloatColumnData(_, nulls) if nulls != null => Some(nulls)
        case _ => None // no trailer = the column has no nulls
      }
    var emptySplit = false
    val nullSets = part.notNullCols.toSeq.flatMap { name =>
      // column absent from this schema-evolved segment: every row is
      // null, IS NOT NULL matches nothing -> skip the split
      if (!segment.columnNames.contains(name)) { emptySplit = true; None }
      else trailerOf(name)
    }
    // IS NULL uses the trailer POSITIVELY: only null rows survive. A
    // present column without a trailer has no nulls -> empty split; an
    // absent column is all-null -> no restriction
    val onlyNullSets = part.isNullCols.toSeq
      .filter(segment.columnNames.contains).map { name =>
        trailerOf(name).getOrElse { emptySplit = true; null }
      }.filter(_ != null)
    if (emptySplit) return Array.emptyIntArray
    if (applicable.isEmpty && prefixSets.isEmpty && patternSets.isEmpty &&
        boundSets.isEmpty && orSets.isEmpty && mvSets.isEmpty &&
        neSets.isEmpty && nullSets.isEmpty && onlyNullSets.isEmpty) null
    else {
      val range = new org.roaringbitmap.buffer.MutableRoaringBitmap()
      range.add(part.rowStart.toLong, part.rowEnd.toLong)
      applicable.foreach(range.and)
      prefixSets.foreach(range.and)
      patternSets.foreach(range.and)
      boundSets.foreach(range.and)
      orSets.foreach(range.and)
      mvSets.foreach(range.and)
      neSets.foreach(range.and)
      onlyNullSets.foreach(range.and)
      nullSets.foreach(range.andNot)
      range.toArray
    }
  }
}

class DruidColumnarReader(part: DruidInputPartition, required: StructType)
    extends PartitionReader[ColumnarBatch] {

  private val segment = DruidSegment.open(part.dir)
  // schema evolution: a column the table knows but this segment
  // predates reads as all-null here (null marks it)
  private val columns: Array[ColumnData] =
    required.fields.map(f =>
      if (segment.columnNames.contains(f.name)) segment.column(f.name) else null)
  // dictionaries decoded once per split, not once per row
  private val dictionaries: Array[Array[Array[Byte]]] = columns.map {
    case StringColumnData(sc) => sc.dictionaryBytes
    case MultiStringColumnData(mc) => mc.dictionaryBytes
    case _ => null
  }

  /** Row selection for this split from the string columns' Roaring
    * bitmap indexes (AND across filtered columns, OR across values).
    * null = read every row in range. Rows excluded here never touch a
    * compressed block; filters stay residual so bitmap absence is
    * always safe.
    */
  private val selected: Array[Int] = RowSelection.build(segment, part)

  private var pos = part.rowStart // sequential cursor (selected == null)
  private var cursor = 0          // cursor into selected
  private val rowIdx = new Array[Int](DruidScan.BatchSize)
  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(DruidScan.BatchSize, f.dataType))
  private var batch: ColumnarBatch = _
  // keep the scan's reader lease alive while this split reads — a
  // cheap clock check per batch, one small file write per half-ttl
  private val leaseRenewer = part.lease.map(new ReadLease.Renewer(_))

  override def next(): Boolean = {
    leaseRenewer.foreach(_.maybeRenew())
    val n =
      if (selected == null) math.min(DruidScan.BatchSize, part.rowEnd - pos)
      else math.min(DruidScan.BatchSize, selected.length - cursor)
    if (n <= 0) return false
    var i = 0
    if (selected == null) {
      while (i < n) { rowIdx(i) = pos + i; i += 1 }
      pos += n
    } else {
      while (i < n) { rowIdx(i) = selected(cursor + i); i += 1 }
      cursor += n
    }
    var c = 0
    while (c < columns.length) {
      val v = vectors(c)
      v.reset()
      columns(c) match {
        case null => v.putNulls(0, n) // column absent from this segment
        case TimeColumnData(longs) =>
          var i = 0
          while (i < n) { v.putLong(i, longs.get(rowIdx(i)) * 1000L); i += 1 }
        case LongColumnData(longs, nulls) =>
          var i = 0
          while (i < n) {
            val r = rowIdx(i)
            if (nulls != null && nulls.contains(r)) v.putNull(i)
            else v.putLong(i, longs.get(r))
            i += 1
          }
        case DoubleColumnData(doubles, nulls) =>
          var i = 0
          while (i < n) {
            val r = rowIdx(i)
            if (nulls != null && nulls.contains(r)) v.putNull(i)
            else v.putDouble(i, doubles.get(r))
            i += 1
          }
        case FloatColumnData(floats, nulls) =>
          var i = 0
          while (i < n) {
            val r = rowIdx(i)
            if (nulls != null && nulls.contains(r)) v.putNull(i)
            else v.putFloat(i, floats.get(r))
            i += 1
          }
        case StringColumnData(sc) =>
          // dictionary-encoded vector: per row we write one int id; the
          // vector resolves bytes lazily from the shared dictionary
          // (same trick Spark's parquet reader uses). Falls back to
          // byte copies only when a dictionary entry is null.
          val dict = dictionaries(c)
          val ids = sc.ids
          v.setDictionary(new GraftDictionary(dict))
          val idVec = v.reserveDictionaryIds(n)
          var i = 0
          while (i < n) {
            val id = ids.get(rowIdx(i))
            if (dict(id) == null) v.putNull(i) else idVec.putInt(i, id)
            i += 1
          }
        case ComplexColumnData(gi) =>
          var i = 0
          while (i < n) {
            val b = gi.bytesAt(rowIdx(i))
            if (b == null) v.putNull(i) else v.putByteArray(i, b)
            i += 1
          }
        case NestedColumnData(nc) =>
          // NestedCommonFormat: JSON text rebuilt from the field
          // dictionaries (same StringType surface as the blob encoding)
          var i = 0
          while (i < n) {
            val b = nc.jsonBytesAt(rowIdx(i))
            if (b == null) v.putNull(i) else v.putByteArray(i, b)
            i += 1
          }
        case MultiStringColumnData(mc) =>
          // ArrayType(StringType): parent rows carry (offset, length)
          // into the child string vector, filled append-style (appends
          // auto-reserve). Dictionary bytes are decoded once per split.
          val dict = dictionaries(c)
          val child = v.getChild(0)
            .asInstanceOf[org.apache.spark.sql.execution.vectorized.WritableColumnVector]
          var childOff = 0
          var i = 0
          while (i < n) {
            val r = rowIdx(i)
            if (mc.isNullAt(r)) v.putNull(i)
            else {
              val (s, e) = mc.rowRange(r)
              v.putArray(i, childOff, e - s)
              var k = s
              while (k < e) {
                val b = dict(mc.flatIds.get(k))
                if (b == null) child.appendNull()
                else child.appendByteArray(b, 0, b.length)
                k += 1
              }
              childOff += e - s
            }
            i += 1
          }
      }
      c += 1
    }
    batch = new ColumnarBatch(vectors.map(_.asInstanceOf[ColumnVector]), n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = vectors.foreach(_.close())
}
