package graft.format

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Druid's GenericIndexed<T> V1: the universal offset-indexed container
  * (dictionaries, compressed-block lists, name lists).
  *
  * Layout (reference src/column/generic_indexed.rs:12-31):
  * {{{
  * [version u8 = 0x01][flags u8]
  * [totalBytes i32]      // offsets + values size (excludes this header)
  * [numElements i32]
  * [offsets i32 * N]     // CUMULATIVE END offset of each element, relative
  *                       // to the values section start
  * [values bytes]
  * }}}
  *
  * Two element encodings exist, distinguished only by context
  * (reference :119-161 vs :190-224):
  *  - length-prefixed: `[len i32][bytes]`, len == -1 => null
  *    (dictionaries, compressed-block lists)
  *  - ObjectStrategy string: `[0x00000000][utf8]`, empty payload => null
  *    (index.drd name lists)
  *
  * `base` is the absolute position of the structure inside `buf`; all
  * reads are absolute so one mmap ByteBuffer can be shared read-only.
  */
final class GenericIndexed(buf: ByteBuffer, val base: Int) extends StringDict {
  import GenericIndexed._

  private val version = buf.get(base) & 0xff
  if (version != VERSION) fail(f"GenericIndexed: bad version 0x$version%02x")
  val flags: Int = buf.get(base + 1) & 0xff
  private val totalBytes = buf.getInt(base + 2)
  val numElements: Int = buf.getInt(base + 6)
  private val valuesStart = base + HEADER + numElements * 4

  /** Bytes this structure occupies — for chaining compound layouts
    * (reference :244-250). DERIVED from the offset table, the way the
    * reference's total_size() computes it: real Druid declares
    * totalBytes as numElements-word + offsets + values (4 more than the
    * offsets+values sum), so chaining on the declared field misaligns
    * every compound read of a genuine segment by 4 bytes. The declared
    * field is validated below as a cross-check instead.
    */
  def totalSize: Int = totalSizeFromOffsets

  /** Size derived from the offset table (reference computes it this way). */
  def totalSizeFromOffsets: Int =
    if (numElements == 0) HEADER else HEADER + numElements * 4 + endOffset(numElements - 1)

  // declared-size cross-check: accept real Druid's convention
  // (4 + offsets + values) and the offsets+values form our own writer
  // emitted before aligning with Druid — anything else means we are
  // parsing bytes that are not a GenericIndexed
  locally {
    val ov = totalSizeFromOffsets - HEADER // offsets + values
    if (totalBytes != ov && totalBytes != ov + 4)
      fail(s"GenericIndexed: declared totalBytes $totalBytes matches neither " +
        s"offsets+values $ov nor Druid's ${ov + 4}")
  }

  private def endOffset(i: Int): Int = buf.getInt(base + HEADER + i * 4)

  /** Absolute [start, end) byte range of element i in the values section. */
  def elementRange(i: Int): (Int, Int) = {
    if (i < 0 || i >= numElements)
      fail(s"GenericIndexed: index $i out of range ($numElements elements)")
    val start = if (i == 0) 0 else endOffset(i - 1)
    (valuesStart + start, valuesStart + endOffset(i))
  }

  /** Element i under the length-prefixed encoding; null for len == -1. */
  def bytesAt(i: Int): Array[Byte] = {
    val (s, e) = elementRange(i)
    if (e - s < 4) fail(s"GenericIndexed: element $i too short for length prefix")
    val len = buf.getInt(s)
    if (len == -1) null
    else if (len < -1 || len > e - s - 4)
      fail(s"GenericIndexed: element $i length $len outside range ${e - s - 4}")
    else {
      val out = new Array[Byte](len)
      sliceInto(s + 4, out)
      out
    }
  }

  /** Length-prefixed element as UTF-8 string; null for len == -1. */
  def stringAt(i: Int): String = {
    val b = bytesAt(i)
    if (b == null) null else new String(b, UTF_8)
  }

  /** ObjectStrategy string element: [4 zero bytes][utf8]; empty => null
    * (reference :190-224).
    */
  def objectStringAt(i: Int): String = {
    val (s, e) = elementRange(i)
    if (e - s < 4) fail(s"GenericIndexed: element $i too short for ObjectStrategy prefix")
    if (buf.getInt(s) != 0)
      fail(s"GenericIndexed: element $i has non-zero ObjectStrategy prefix")
    if (e - s == 4) null
    else {
      val out = new Array[Byte](e - s - 4)
      sliceInto(s + 4, out)
      new String(out, UTF_8)
    }
  }

  /** Auto-detecting string accessor: resolves the two element encodings
    * per element. The reference reads index.drd with the length-prefixed
    * accessor (src/segment/metadata.rs:36-60) even though real segments
    * write ObjectStrategy there (tests/wikipedia_segment_test.rs:188-204)
    * — we detect instead of guessing:
    *  - prefix == len(element)-4  => length-prefixed (covers "" at size 4)
    *  - prefix == -1              => null
    *  - prefix == 0               => ObjectStrategy
    */
  def stringAuto(i: Int): String = {
    val (s, e) = elementRange(i)
    val size = e - s
    if (size < 4) fail(s"GenericIndexed: element $i shorter than any prefix")
    val prefix = buf.getInt(s)
    if (prefix == -1) null
    // [0,0,0,0] alone is ambiguous (length-prefixed "" vs ObjectStrategy
    // null); resolve as null, the ObjectStrategy reading, since auto mode
    // is used on name lists where that encoding is what real segments write.
    else if (prefix == 0 && size == 4) null
    else if (prefix == size - 4) stringAt(i)
    else if (prefix == 0) objectStringAt(i)
    else fail(s"GenericIndexed: element $i prefix $prefix matches no known encoding")
  }

  private def sliceInto(pos: Int, out: Array[Byte]): Unit = {
    val dup = buf.duplicate()
    dup.position(pos)
    dup.get(out)
  }
}

object GenericIndexed {
  val VERSION = 0x01
  val HEADER = 10 // version(1) + flags(1) + totalBytes(4) + numElements(4)

  def apply(buf: ByteBuffer, base: Int): GenericIndexed = new GenericIndexed(buf, base)

  def wrap(data: Array[Byte]): GenericIndexed =
    new GenericIndexed(ByteBuffer.wrap(data), 0)

  /** Write a GenericIndexed V1 with length-prefixed elements
    * (null element => len -1). `sorted` sets flag 0x01 (dictionaries).
    */
  def writeLengthPrefixed(elements: Seq[Array[Byte]], sorted: Boolean): Array[Byte] =
    write(elements.map { e =>
      if (e == null) ByteBuffer.allocate(4).putInt(-1).array()
      else ByteBuffer.allocate(4 + e.length).putInt(e.length).put(e).array()
    }, sorted)

  /** Write with ObjectStrategy string elements ([0x00000000][utf8]). */
  def writeObjectStrings(elements: Seq[String], sorted: Boolean): Array[Byte] =
    write(elements.map { s =>
      val b = if (s == null) Array.emptyByteArray else s.getBytes(UTF_8)
      ByteBuffer.allocate(4 + b.length).putInt(0).put(b).array()
    }, sorted)

  /** Write raw pre-encoded elements (e.g. compressed blocks, which have
    * a length prefix like any other length-prefixed element).
    */
  def writeRawWithLengthPrefix(elements: Seq[Array[Byte]], sorted: Boolean): Array[Byte] =
    writeLengthPrefixed(elements, sorted)

  private def write(encoded: Seq[Array[Byte]], sorted: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(VERSION)
    out.writeByte(if (sorted) 0x01 else 0x00)
    val valuesSize = encoded.iterator.map(_.length).sum
    // real Druid's convention: the declared size covers the
    // numElements word + offsets + values (GenericIndexedWriter's
    // numBytesUsed), so genuine Druid readers slice our output correctly
    out.writeInt(4 + encoded.size * 4 + valuesSize) // totalBytes
    out.writeInt(encoded.size)
    var cum = 0
    encoded.foreach { e => cum += e.length; out.writeInt(cum) }
    encoded.foreach(out.write)
    out.flush()
    bos.toByteArray
  }
}
