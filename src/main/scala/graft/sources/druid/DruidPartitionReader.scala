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
  import org.roaringbitmap.buffer.{ImmutableRoaringBitmap, MutableRoaringBitmap}

  /** Selected row positions for a split: the AND of every pushed
    * predicate's bitmap. null = all rows in [rowStart, rowEnd) (no
    * predicate the bitmaps can serve); empty = the whole split skips.
    */
  def build(segment: DruidSegment, part: DruidInputPartition): Array[Int] = {
    val sets = part.preds.flatMap(bitmapOf(_, segment, part.rowStart, part.rowEnd))
    if (sets.isEmpty) null
    else {
      val range = new MutableRoaringBitmap()
      range.add(part.rowStart.toLong, part.rowEnd.toLong)
      sets.foreach(range.and)
      range.toArray
    }
  }

  /** A superset of the rows in [rowStart, rowEnd) matching `p`, from
    * the segment's bitmaps; None where they cannot say (no restriction).
    * Druid's filter model: boolean algebra over bitmap indexes. Leaves
    * resolve through the dictionary — a value's bitmap, a contiguous id
    * range for a prefix or lexicographic bound, one pass over the
    * dictionary for a pattern or another ordering — or through the
    * numeric null trailers. AnyOf unions and gives up if any branch
    * does; AllOf intersects the branches that answer. Sound either
    * way, because Spark's residual re-check has the final word on
    * every row. A column this schema-evolved segment predates is
    * all-null, so only IS NULL matches there.
    */
  def bitmapOf(p: ScanPred, segment: DruidSegment,
               rowStart: Int, rowEnd: Int): Option[MutableRoaringBitmap] = {
    def absent(c: String) = !segment.columnNames.contains(c)
    // union of the bitmaps of the dictionary ids `ids` picks; None
    // without a dictionary with bitmaps
    def union(c: String)(ids: DictionaryIndex => Iterator[Int]): Option[MutableRoaringBitmap] =
      if (absent(c)) Some(new MutableRoaringBitmap())
      else (segment.column(c) match {
        case StringColumnData(sc) => Some(sc)
        case MultiStringColumnData(mc) => Some(mc)
        case _ => None
      }).filter(_.bitmaps.isDefined).map { d =>
        val acc = new MutableRoaringBitmap()
        ids(d).foreach(id => d.bitmapFor(id).foreach(acc.or))
        acc
      }
    // ids of the dictionary values `matches` accepts: one lazy
    // sequential pass, O(dictionary) on both dictionary shapes
    def scan(d: DictionaryIndex)(matches: Array[Byte] => Boolean): Iterator[Int] =
      d.dictionary.entriesIterator.zipWithIndex
        .collect { case (b, id) if b != null && matches(b) => id }
    // a numeric column's null trailer (Some(None): it has no nulls);
    // None for other column types, told from the descriptor alone so
    // no other column is opened for it
    def nullTrailer(c: String): Option[Option[ImmutableRoaringBitmap]] =
      if (!Set("LONG", "FLOAT", "DOUBLE")(segment.columnHeader(c)._1.valueType)) None
      else segment.column(c) match {
        case LongColumnData(_, nulls) => Some(Option(nulls))
        case DoubleColumnData(_, nulls) => Some(Option(nulls))
        case FloatColumnData(_, nulls) => Some(Option(nulls))
        case _ => None
      }
    p match {
      case AllOf(ps) =>
        ps.flatMap(bitmapOf(_, segment, rowStart, rowEnd))
          .reduceOption { (x, y) => x.and(y); x }
      case AnyOf(ps) =>
        val bs = ps.map(bitmapOf(_, segment, rowStart, rowEnd))
        if (bs.exists(_.isEmpty)) None
        else Some(bs.flatten.foldLeft(new MutableRoaringBitmap()) { (x, y) => x.or(y); x })
      case StrValues(c, vs) => union(c)(d => vs.iterator.map(d.dictIdOf).filter(_ >= 0))
      case MvContains(c, vs) => union(c)(d => vs.iterator.map(d.dictIdOf).filter(_ >= 0))
      case StrPrefix(c, prefix) => union(c) { d =>
        val (lo, hi) = d.dictIdRangeForPrefix(prefix)
        (lo until hi).iterator
      }
      case StrMatch(c, kind, pattern) => union(c)(scan(_) { b =>
        val v = new String(b, "UTF-8")
        if (kind == "contains") v.contains(pattern) else v.endsWith(pattern)
      })
      // the dictionary IS sorted in unsigned UTF-8 order, so a
      // lexicographic bound selects a CONTIGUOUS id range — two
      // O(log dict) searches. Other orderings don't follow dictionary
      // order: the comparator runs once per dictionary VALUE, never per
      // row. On a multi-value dim this unions to "rows where ANY value
      // satisfies the bound", Druid's bound semantics there.
      case b: DimBound => union(b.col) { d =>
        if (b.lexicographic) {
          val lo = d.dictIdBound(b.lower.getOrElse("").getBytes("UTF-8"),
            b.lower.isDefined && b.lowerStrict)
          val hi = b.upper.map(u => d.dictIdBound(u.getBytes("UTF-8"), !b.upperStrict))
            .getOrElse(d.dictionary.numElements)
          (lo until hi).iterator
        } else scan(d)(DimBound.predicate(b))
      }
      // a superset: long 5 and string "5" both render as "5". A
      // blob-encoded json column has no field bitmaps.
      case NestedEq(c, path, vs) =>
        if (absent(c)) Some(new MutableRoaringBitmap())
        else segment.column(c) match {
          case NestedColumnData(nc) => nc.eqBitmap(path, vs)
          case _ => None
        }
      case NotNull(c) =>
        if (absent(c)) Some(new MutableRoaringBitmap())
        else nullTrailer(c).flatten.map { nulls =>
          val rows = new MutableRoaringBitmap()
          rows.add(rowStart.toLong, rowEnd.toLong)
          rows.andNot(nulls)
          rows
        }
      // the trailer used positively; a numeric column without one has
      // no nulls
      case NullOnly(c) =>
        if (absent(c)) None
        else nullTrailer(c).map(_.fold(new MutableRoaringBitmap())(_.toMutableRoaringBitmap))
      case _: TimeRange | _: NumRange => None
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

  /** Row selection for this split from the pushed predicates' bitmaps.
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
