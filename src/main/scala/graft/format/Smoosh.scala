package graft.format

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** One logical file inside the smoosh archive. */
final case class SmooshEntry(name: String, chunk: Int, start: Int, end: Int) {
  def size: Int = end - start
}

/** Memory-mapped smoosh archive reader (mirrors Druid's Java
  * SmooshedFileMapper; reference src/segment/smoosh.rs:25-163).
  *
  * `meta.smoosh` is text: header `v1,<maxChunkSize>,<numChunks>` then
  * `name,chunk,start,end` per logical file; data lives in mmap'd
  * `NNNNN.smoosh` chunks (<= 2 GiB each, so i32 offsets suffice).
  *
  * Readers receive (sharedBuffer, absoluteOffset) pairs and use absolute
  * gets only, so one mapping serves all columns with zero copies.
  */
final class SmooshReader private (
    dir: Path,
    val entries: SortedMap[String, SmooshEntry],
    val numChunks: Int,
    val maxChunkSize: Long) {

  def has(name: String): Boolean = entries.contains(name)
  def entry(name: String): Option[SmooshEntry] = entries.get(name)

  // Chunk files are mapped LAZILY on first slice: metadata-only access
  // (planning, `druid-tool info`, interop checks) never touches the
  // data blobs, and a scan of two columns in one chunk never maps the
  // others. Mapping is idempotent, so the unsynchronized memo is safe.
  private val mapped = new Array[ByteBuffer](numChunks)

  private def chunk(i: Int): ByteBuffer = {
    if (i < 0 || i >= numChunks) fail(s"smoosh: chunk $i out of range [0,$numChunks)")
    var buf = mapped(i)
    if (buf == null) {
      val path = dir.resolve(f"$i%05d.smoosh")
      val raf = new RandomAccessFile(path.toFile, "r")
      try {
        val m = raf.getChannel.map(FileChannel.MapMode.READ_ONLY, 0, raf.length())
        m.order(ByteOrder.BIG_ENDIAN)
        buf = m
      } finally raf.close()
      mapped(i) = buf
    }
    buf
  }

  /** (buffer, baseOffset, length) for a logical file. */
  def slice(name: String): (ByteBuffer, Int, Int) = {
    val e = entries.getOrElse(name, fail(s"smoosh: no logical file '$name'"))
    val buf = chunk(e.chunk)
    if (e.end > buf.capacity())
      fail(s"smoosh: '$name' end ${e.end} exceeds chunk size ${buf.capacity()}")
    (buf, e.start, e.size)
  }

  /** Copy a logical file out as a byte array (metadata-sized files). */
  def readFully(name: String): Array[Byte] = {
    val (buf, base, len) = slice(name)
    val out = new Array[Byte](len)
    val dup = buf.duplicate()
    dup.position(base)
    dup.get(out)
    out
  }
}

object SmooshReader {
  def open(dir: String): SmooshReader = open(Paths.get(dir))

  def open(dir: Path): SmooshReader = {
    val metaLines = Files.readAllLines(dir.resolve("meta.smoosh")).asScala.toList
    if (metaLines.isEmpty) fail("meta.smoosh is empty")
    val header = metaLines.head.split(",")
    if (header.length < 3 || header(0) != "v1")
      fail(s"meta.smoosh: bad header '${metaLines.head}'")
    val maxChunkSize = header(1).trim.toLong
    val numChunks = header(2).trim.toInt

    val entries = metaLines.tail.iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val p = line.split(",")
        if (p.length < 4) fail(s"meta.smoosh: bad entry '$line'")
        p(0) -> SmooshEntry(p(0), p(1).toInt, p(2).toInt, p(3).toInt)
      }
      .to(SortedMap)

    new SmooshReader(dir, entries, numChunks, maxChunkSize)
  }
}
