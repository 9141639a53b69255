package graft.format

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

/** Multi-value string dimension column -> Spark ArrayType(StringType).
  *
  * The v9 descriptor carries `hasMultipleValues` but the reference
  * never implements the decode (SURVEY.md §0 gap table;
  * reference src/segment/column_descriptor.rs:20-21 parses the flag and
  * drops it). This is our own layout in the same idiom as the
  * single-value column:
  * {{{
  * [version u8 = 0x04 | 0x05]
  * [dictionary: GenericIndexed (v4) | FrontCodedIndexed (v5)]
  * [flat ids: CompressedInts]       // all rows' values concatenated
  * [row ends: CompressedInts]       // cumulative value-count per row
  * }}}
  * Row r owns flat ids [ends[r-1], ends[r]).
  */
final class StringMultiColumn(buf: ByteBuffer, base: Int, end: Int = -1)
    extends DictionaryIndex {
  private val version = buf.get(base) & 0xff
  if (version != StringMultiColumn.VERSION &&
      version != StringMultiColumn.VERSION_FC)
    fail(f"StringMultiColumn: unsupported version 0x$version%02x")

  val dictionary: StringDict =
    if (version == StringMultiColumn.VERSION_FC)
      new FrontCodedIndexed(buf, base + 1)
    else new GenericIndexed(buf, base + 1)
  private val flatBase = base + 1 + dictionary.totalSize
  val flatIds = new CompressedInts(buf, flatBase)
  val rowEnds = new CompressedInts(buf, flatBase + flatIds.totalByteSize)

  private val tailBase = flatBase + flatIds.totalByteSize + rowEnds.totalByteSize

  /** Optional per-DICTIONARY-VALUE bitmap section: element i = rows
    * whose array CONTAINS dictionary value i — exactly how Druid
    * serves selector filters on multi-value dimensions from the same
    * per-value bitmaps as single-value ones. Preceded by a marker byte
    * (0xB4) that can never be a GenericIndexed version byte, so the
    * section is unambiguous against the optional one-element null
    * trailer that follows it; validation mirrors the single-value
    * column's (element count == dictionary's, fits the file, first
    * element typed Roaring/Concise). A failed parse degrades to
    * residual-only scans, never a misread.
    */
  val bitmaps: Option[GenericIndexed] =
    if (end > tailBase + 1 + GenericIndexed.HEADER &&
        (buf.get(tailBase) & 0xff) == StringMultiColumn.BITMAP_MARKER &&
        (buf.get(tailBase + 1) & 0xff) == GenericIndexed.VERSION)
      scala.util.Try(new GenericIndexed(buf, tailBase + 1)).toOption.filter { gi =>
        gi.numElements == dictionary.numElements &&
          tailBase + 1 + gi.totalSize <= end &&
          (gi.numElements == 0 || {
            val (s, e) = gi.elementRange(0)
            e - s >= 5 && buf.getInt(s) >= 1 &&
              ((buf.get(s + 4) & 0xff) == 0x01 ||
                (buf.get(s + 4) & 0xff) == 0x00)
          })
      }
    else None

  /** Rows whose array contains dictionary entry `dictId`. */
  def bitmapFor(dictId: Int): Option[org.roaringbitmap.buffer.ImmutableRoaringBitmap] =
    bitmaps.map { gi =>
      val (s, _) = gi.elementRange(dictId)
      val len = buf.getInt(s)
      if (len < 1) fail(s"mv bitmap $dictId: empty element")
      (buf.get(s + 4) & 0xff) match {
        case 0x01 =>
          val dup = buf.duplicate()
          dup.position(s + 5).limit(s + 4 + len)
          new org.roaringbitmap.buffer.ImmutableRoaringBitmap(dup.slice())
        case 0x00 => Concise.decode(buf, s + 5, s + 4 + len)
        case t => fail(s"mv bitmap $dictId: bad type byte $t")
      }
    }

  /** Roaring set of rows that are NULL (as opposed to empty arrays) —
    * optional trailer, same shape as the numeric null trailers.
    */
  val nulls: org.roaringbitmap.buffer.ImmutableRoaringBitmap =
    NullTrailer.read(buf, tailBase + bitmaps.map(1 + _.totalSize).getOrElse(0), end)

  def isNullAt(r: Int): Boolean = nulls != null && nulls.contains(r)

  def length: Int = rowEnds.length

  /** Value-range [start, end) of row r in the flat id list. */
  def rowRange(r: Int): (Int, Int) =
    (if (r == 0) 0 else rowEnds.get(r - 1), rowEnds.get(r))

  def valuesAt(r: Int): Array[String] = {
    val (s, e) = rowRange(r)
    Array.tabulate(e - s)(k => dictionary.stringAt(flatIds.get(s + k)))
  }

  def dictionaryBytes: Array[Array[Byte]] = dictionary.allBytes
}

object StringMultiColumn {
  val VERSION = 0x04
  /** Front-coded-dictionary variant (stringEncoding=frontCoded). */
  val VERSION_FC = 0x05
  /** Precedes the per-value bitmap section; distinct from
    * GenericIndexed.VERSION so the trailer layout stays unambiguous. */
  val BITMAP_MARKER = 0xB4

  def write(values: Seq[Seq[String]],
            frontCodedDict: Boolean = false,
            withBitmaps: Boolean = true,
            conciseBitmaps: Boolean = false): Array[Byte] = {
    val hasNull = values.exists(row => row != null && row.contains(null))
    val nullRows = values.zipWithIndex.collect { case (null, r) => r }
    val distinct = values.filter(_ != null).flatten.filter(_ != null).distinct.sorted(StringColumn.utf8Order)
    val dictValues: Seq[String] = (if (hasNull) Seq(null) else Nil) ++ distinct
    val dictIndex = dictValues.zipWithIndex.toMap

    val flat = scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new Array[Int](values.size)
    values.zipWithIndex.foreach { case (row, r) =>
      if (row != null) row.foreach(v => flat += dictIndex(v))
      ends(r) = flat.size
    }

    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(if (frontCodedDict) VERSION_FC else VERSION)
    if (frontCodedDict)
      out.write(FrontCodedIndexed.write(
        distinct.map(_.getBytes("UTF-8")), hasNull))
    else out.write(GenericIndexed.writeLengthPrefixed(
      dictValues.map(v => if (v == null) null else v.getBytes("UTF-8")), sorted = true))
    out.write(CompressedColumnar.writeInts(flat.toArray))
    out.write(CompressedColumnar.writeInts(ends))
    if (withBitmaps) {
      // value id -> rows whose array contains it (a null ROW
      // contributes to no value's bitmap; a null VALUE inside an
      // array rides dictionary slot 0 like any other entry)
      val rowSets =
        Array.fill(dictValues.size)(new org.roaringbitmap.RoaringBitmap())
      values.zipWithIndex.foreach { case (row, r) =>
        if (row != null) row.foreach(v => rowSets(dictIndex(v)).add(r))
      }
      val elements = rowSets.map { bm =>
        bm.runOptimize()
        val b = new ByteArrayOutputStream()
        val d = new DataOutputStream(b)
        if (conciseBitmaps) {
          d.writeByte(0x00)
          d.write(Concise.toBytes(bm.toMutableRoaringBitmap))
        } else {
          d.writeByte(0x01)
          bm.serialize(d)
        }
        d.flush()
        b.toByteArray
      }
      out.writeByte(BITMAP_MARKER)
      out.write(GenericIndexed.writeLengthPrefixed(elements.toSeq, sorted = false))
    }
    if (nullRows.nonEmpty) {
      val bm = new org.roaringbitmap.RoaringBitmap()
      nullRows.foreach(bm.add)
      bm.runOptimize()
      val b = new ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      d.writeByte(0x01)
      bm.serialize(d)
      d.flush()
      out.write(GenericIndexed.writeLengthPrefixed(Seq(b.toByteArray), sorted = false))
    }
    out.flush(); bos.toByteArray
  }
}
