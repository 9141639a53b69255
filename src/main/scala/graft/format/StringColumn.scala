package graft.format

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

/** The dictionary-and-bitmap face both string column shapes share
  * (single-value [[StringColumn]], multi-value [[StringMultiColumn]]):
  * a dictionary sorted in unsigned UTF-8 byte order with null first,
  * and optional per-value row bitmaps. For a multi-value column a
  * value's bitmap marks the rows whose array CONTAINS it.
  */
trait DictionaryIndex {
  def dictionary: StringDict
  def bitmaps: Option[GenericIndexed]
  /** Rows of dictionary entry `dictId` (requires bitmap indexes). */
  def bitmapFor(dictId: Int): Option[org.roaringbitmap.buffer.ImmutableRoaringBitmap]

  /** Binary-search a value in the sorted dictionary; -1 if absent.
    * Order is unsigned UTF-8 byte order with null first — what Druid
    * itself uses (UTF-16 String order differs for supplementary chars).
    */
  def dictIdOf(value: String): Int = {
    val target = value.getBytes("UTF-8")
    val n = dictionary.numElements
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val b = dictionary.bytesAt(mid)
      val cmp = if (b == null) -1 else StringColumn.compareUtf8(b, target)
      if (cmp == 0) return mid
      else if (cmp < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Dictionary id range [lo, hi) of values starting with `prefix`.
    * The dictionary is UTF-8-byte sorted, so the prefix set is exactly
    * the contiguous interval of entries >= prefix whose first
    * prefix-many bytes match (null sorts first and never matches).
    */
  def dictIdRangeForPrefix(prefix: String): (Int, Int) = {
    val p = prefix.getBytes("UTF-8")
    val n = dictionary.numElements
    var lo = 0
    var hi = n
    while (lo < hi) { // first id with bytes >= p
      val mid = (lo + hi) >>> 1
      val b = dictionary.bytesAt(mid)
      val cmp = if (b == null) -1 else StringColumn.compareUtf8(b, p)
      if (cmp < 0) lo = mid + 1 else hi = mid
    }
    var end = lo
    while (end < n && {
      val b = dictionary.bytesAt(end)
      b != null && b.length >= p.length &&
        java.util.Arrays.equals(b, 0, p.length, p, 0, p.length)
    }) end += 1
    (lo, end)
  }

  /** First dictionary id whose bytes compare >= `key` (or > `key`
    * when `strict`) in unsigned UTF-8 order. Nulls sort first and
    * never qualify, so the returned id is always past them. A
    * lexicographic bound therefore selects the CONTIGUOUS id range
    * [dictIdBound(lower, lowerStrict), dictIdBound(upper, !upperStrict))
    * — O(log dictionary), the prefix-range trick generalized.
    */
  def dictIdBound(key: Array[Byte], strict: Boolean): Int = {
    val n = dictionary.numElements
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val b = dictionary.bytesAt(mid)
      val cmp = if (b == null) -1 else StringColumn.compareUtf8(b, key)
      if (if (strict) cmp <= 0 else cmp < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Dictionary-encoded string column.
  *
  * Layout (reference src/column/string.rs:14-44):
  * {{{
  * [version u8]  0x00 legacy | 0x02 compressed | 0x03 compressed+features
  * [flags/featureMask i32]   (v2/v3 only)
  * [dictionary: GenericIndexed, length-prefixed elements, null = len -1]
  * [ids: VSizeInts (v0) | CompressedInts (v2/v3)]
  * }}}
  *
  * We keep dictionary and ids SEPARATE (the reference eagerly gathers
  * ids->dict into a materialized StringArray, src/column/string.rs:116-125).
  * Exposing the indirection lets the DSv2 reader hand Spark a dictionary
  * ColumnVector — per-row work is an int copy, and equality predicates
  * can be evaluated against the dictionary once per segment.
  */
final class StringColumn(buf: ByteBuffer, base: Int, end: Int = -1)
    extends DictionaryIndex {
  private val version = buf.get(base) & 0xff
  private val dictBase = version match {
    case 0x00 => base + 1
    case 0x02 | 0x03 => base + 5 // version(1) + flags/featureMask(4)
    case other => fail(f"String column: unsupported version 0x$other%02x")
  }
  /** v3 featureMask; bit 0 = front-coded dictionary. */
  private val features: Int = if (version == 0x03) buf.getInt(base + 1) else 0

  val dictionary: StringDict =
    if ((features & StringColumn.FEATURE_FRONT_CODED) != 0)
      new FrontCodedIndexed(buf, dictBase)
    else new GenericIndexed(buf, dictBase)
  val ids: ColumnarInts = version match {
    case 0x00 => new VSizeInts(buf, dictBase + dictionary.totalSize)
    case _ => new CompressedInts(buf, dictBase + dictionary.totalSize)
  }

  /** Optional per-dictionary-value Roaring bitmap indexes after the ids
    * (our extension; readers that stop after the ids — like the
    * reference — simply ignore the trailer). Element i = serialized
    * bitmap of rows whose id == i, prefixed by the 0x01 Roaring type
    * byte the reference documents (src/column/bitmap.rs:5-14).
    *
    * Detection is VALIDATED, not sniffed: beyond the version byte, the
    * structure must parse as a GenericIndexed whose element count
    * equals the dictionary's and whose size fits the logical file.
    * A foreign trailer that fails any check degrades to a full-range
    * scan (filters are always residual, so correctness is unaffected);
    * misreading one as bitmaps could silently DROP rows.
    */
  val bitmaps: Option[GenericIndexed] = {
    val idsEnd = ids match {
      case v: VSizeInts => dictBase + dictionary.totalSize + v.totalSize
      case c: CompressedInts => dictBase + dictionary.totalSize + c.totalByteSize
    }
    if (end > idsEnd + GenericIndexed.HEADER &&
        (buf.get(idsEnd) & 0xff) == GenericIndexed.VERSION)
      scala.util.Try(new GenericIndexed(buf, idsEnd)).toOption.filter { gi =>
        gi.numElements == dictionary.numElements &&
          idsEnd + gi.totalSize <= end &&
          // every element must hold a length-prefixed bitmap with a
          // known type byte: 0x01 Roaring or 0x00 Concise (legacy)
          (gi.numElements == 0 || {
            val (s, e) = gi.elementRange(0)
            e - s >= 5 && buf.getInt(s) >= 1 &&
              ((buf.get(s + 4) & 0xff) == 0x01 || (buf.get(s + 4) & 0xff) == 0x00)
          })
      }
    else None
  }

  /** Rows where the value equals dictionary entry `dictId` (requires
    * bitmap indexes; zero-copy view over the mmap).
    */
  def bitmapFor(dictId: Int): Option[org.roaringbitmap.buffer.ImmutableRoaringBitmap] =
    bitmaps.map { gi =>
      val (s, e) = gi.elementRange(dictId)
      val len = buf.getInt(s)
      if (len < 1) fail(s"bitmap $dictId: empty element")
      (buf.get(s + 4) & 0xff) match {
        case 0x01 => // Roaring: zero-copy view over the mmap
          val dup = buf.duplicate()
          dup.position(s + 5).limit(s + 4 + len)
          new org.roaringbitmap.buffer.ImmutableRoaringBitmap(dup.slice())
        case 0x00 => // Concise (legacy): decode words to Roaring
          Concise.decode(buf, s + 5, s + 4 + len)
        case t => fail(s"bitmap $dictId: bad type byte $t")
      }
    }

  def length: Int = ids.length

  /** Dictionary lookup for row i (null when dict entry is null). */
  def stringAt(i: Int): String = dictionary.stringAt(ids.get(i))

  /** Materialized dictionary as UTF-8 byte arrays (null entries stay
    * null) — decoded once per column per partition by the scan.
    */
  def dictionaryBytes: Array[Array[Byte]] = dictionary.allBytes
}

object StringColumn {
  /** Unsigned lexicographic UTF-8 byte comparison (Druid's dictionary
    * sort order).
    */
  def compareUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cmp = (a(i) & 0xff) - (b(i) & 0xff)
      if (cmp != 0) return cmp
      i += 1
    }
    a.length - b.length
  }

  private[format] implicit val utf8Order: Ordering[String] =
    (x: String, y: String) => compareUtf8(x.getBytes("UTF-8"), y.getBytes("UTF-8"))

  /** v3 featureMask bit: the dictionary is a [[FrontCodedIndexed]]
    * instead of a GenericIndexed.
    */
  val FEATURE_FRONT_CODED = 0x01

  /** Write a v2 string column: sorted unique dictionary (null first if
    * present, as Druid sorts nulls first) + LZ4-compressed id column +
    * per-value Roaring bitmap indexes (value -> row set) enabling
    * filter-pushdown row skipping at read time.
    *
    * `frontCodedDict` switches the dictionary to prefix-compressed
    * front-coded buckets (v3 + featureMask bit, like real Druid's
    * `stringEncodingStrategy: frontCoded` column option); ids and
    * bitmap trailer are unchanged.
    */
  def write(values: Seq[String], withBitmaps: Boolean = true,
            frontCodedDict: Boolean = false,
            conciseBitmaps: Boolean = false): Array[Byte] = {
    val hasNull = values.contains(null)
    val distinct = values.filter(_ != null).distinct.sorted(utf8Order)
    val dictValues: Seq[String] = (if (hasNull) Seq(null) else Nil) ++ distinct
    val dictIndex = dictValues.zipWithIndex.toMap
    val ids = values.map(dictIndex).toArray

    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(if (frontCodedDict) 0x03 else 0x02)
    out.writeInt(if (frontCodedDict) FEATURE_FRONT_CODED else 0)
    if (frontCodedDict)
      out.write(FrontCodedIndexed.write(
        distinct.map(_.getBytes("UTF-8")), hasNull))
    else out.write(GenericIndexed.writeLengthPrefixed(
      dictValues.map(v => if (v == null) null else v.getBytes("UTF-8")), sorted = true))
    out.write(CompressedColumnar.writeInts(ids))
    if (withBitmaps) {
      val rowSets = Array.fill(dictValues.size)(new org.roaringbitmap.RoaringBitmap())
      ids.zipWithIndex.foreach { case (id, row) => rowSets(id).add(row) }
      val elements = rowSets.map { bm =>
        bm.runOptimize()
        val b = new ByteArrayOutputStream()
        val d = new DataOutputStream(b)
        if (conciseBitmaps) {
          // legacy CONCISE section (type 0x00, reference
          // src/column/bitmap.rs:7) — exists so the Concise READ path
          // has self-contained offline round-trip coverage
          d.writeByte(0x00)
          d.write(Concise.toBytes(bm.toMutableRoaringBitmap))
        } else {
          d.writeByte(0x01) // Roaring type byte (reference src/column/bitmap.rs:11)
          bm.serialize(d)
        }
        d.flush()
        b.toByteArray
      }
      out.write(GenericIndexed.writeLengthPrefixed(elements.toSeq, sorted = false))
    }
    out.flush(); bos.toByteArray
  }

  /** Write the legacy v0 layout (dictionary + VSizeInts ids) — exercised
    * in tests to cover the v0 decode path.
    */
  def writeV0(values: Seq[String]): Array[Byte] = {
    val hasNull = values.contains(null)
    val distinct = values.filter(_ != null).distinct.sorted(utf8Order)
    val dictValues: Seq[String] = (if (hasNull) Seq(null) else Nil) ++ distinct
    val dictIndex = dictValues.zipWithIndex.toMap
    val ids = values.map(dictIndex)

    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(0x00)
    out.write(GenericIndexed.writeLengthPrefixed(
      dictValues.map(v => if (v == null) null else v.getBytes("UTF-8")), sorted = true))
    out.write(VSizeInts.write(ids,
      VSizeInts.bytesNeeded(math.max(0, dictValues.size - 1))))
    out.flush(); bos.toByteArray
  }
}
