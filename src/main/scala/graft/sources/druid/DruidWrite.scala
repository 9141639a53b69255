package graft.sources.druid

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.write.SegmentWriter
import graft.write.SegmentWriter._

/** Write path: `df.write.format("druid").save(dir)` — each Spark
  * partition becomes one immutable v9 segment directory under `dir`,
  * which the read side discovers as a multi-segment table. The
  * reference has no writer at all; this is the ingest half of
  * "data-processing capabilities", and at scale the partitioning of the
  * incoming DataFrame controls segment sizing (repartition by time
  * range upstream for time-pruned reads).
  *
  * Commit protocol: tasks write segments into a hidden
  * `.staging-<job>` directory under the destination (invisible to
  * segment discovery), and BatchWrite.commit moves them into place —
  * only then does overwrite delete the previous segments. A job that
  * fails mid-write leaves the destination exactly as it was.
  *
  * Rows buffer in memory per task in typed columnar builders (segments
  * are immutable columnar files, same as Druid's own indexer which
  * builds per-segment in memory) — memory per task is ~the primitive
  * data size, not boxed objects; size partitions accordingly.
  */
class DruidWriteBuilder(root: String, schema: StructType, spec: WriteSpec)
    extends WriteBuilder with SupportsOverwrite {
  spec.check(schema)
  private var doTruncate = false
  private var replaceRange: Option[(Long, Long)] = None
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Interval-scoped overwrite — the atomic day-backfill pattern
    * (`df.writeTo(t).overwrite(cond)` / SQL `INSERT INTO t REPLACE
    * WHERE cond`): replacement segments stage as usual, and at commit
    * the prior segments CONTAINED in the `__time` range swap out. The
    * commit fails fast (destination untouched) if the range would
    * split a segment or the replacement data strays outside it.
    */
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      { doTruncate = true; this }
    else {
      replaceRange = Some(DruidDelete.timeRange(filters).getOrElse(
        throw new IllegalArgumentException(
          "druid overwrite/REPLACE WHERE supports only __time-range predicates")))
      this
    }
  }

  /** Druid's `single_dim` range partitioning, the Spark-native way:
    * instead of hand-sharding rows, the Write DECLARES an ordered
    * distribution on the shard dimension via
    * [[RequiresDistributionAndOrdering]] and Catalyst inserts one range
    * exchange (sampled split points, AQE-sizable when `shards` is 0).
    * Each task then holds a contiguous dim range, so every segment's
    * existing min/max envelope (`SegMeta.strZones`/`zones`) becomes a
    * TIGHT disjoint range and the planner's envelope pruning — already
    * in place for equality/IN/bound filters — skips whole segments for
    * any dim-targeted query, exactly like Druid pruning `single_dim`
    * shards by `partitionDimensionValues`. Rows are additionally sorted
    * by (`shardBy`, `__time`) inside each task: dictionary runs stay
    * dense and rows sharing a dim value are time-ordered (full
    * time-sortedness is NOT implied — the dim leads the sort).
    */
  private final class ShardedWrite(dim: String)
      extends Write with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.{expressions => cx}
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        Array(cx.Expressions.sort(cx.Expressions.column(dim),
          cx.SortDirection.ASCENDING)))
    override def requiredNumPartitions(): Int = spec.shards
    override def requiredOrdering(): Array[cx.SortOrder] = {
      val keys = Seq(dim) ++
        (if (schema.fields.exists(_.name == "__time")) Seq("__time") else Nil)
      keys.map(c => cx.Expressions.sort(cx.Expressions.column(c),
        cx.SortDirection.ASCENDING)).toArray
    }
    override def toBatch: BatchWrite = plainBatch()
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      plainStreaming()
  }

  private def plainBatch(): BatchWrite =
    new DruidBatchWrite(root, schema, doTruncate, spec, replaceRange)
  private def plainStreaming()
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!doTruncate,
      "druid streaming sink supports append output mode only")
    new DruidStreamingWrite(root, schema, spec)
  }

  override def build(): Write = spec.shardBy match {
    case Some(dim) => new ShardedWrite(dim)
    case None => new Write {
      override def toBatch: BatchWrite = plainBatch()
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        plainStreaming()
    }
  }
}

/** Native Structured Streaming sink (`writeStream.format("druid")`),
  * append mode: each epoch stages segments under an epoch-keyed dir
  * and commits them with the same atomic per-segment moves as the
  * batch path. Exactly-once across epoch REPLAYS comes from a marker
  * file per committed epoch — a re-delivered commit for an epoch that
  * already landed is dropped whole (its staging dir is discarded), so
  * recovery after a failure between sink-commit and checkpoint-commit
  * never duplicates rows.
  */
class DruidStreamingWrite(root: String, schema: StructType, spec: WriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def stagingFor(epochId: Long): Path =
    Paths.get(root, s".staging-stream-ep$epochId")
  private def markerFor(epochId: Long): Path =
    Paths.get(root, ".epochs", epochId.toString)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(root, ".epochs"))
    // locals, so the factory serializes these and not this write
    val (r, sch, ws) = (root, schema, spec)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        new DruidDataWriter(Paths.get(r, s".staging-stream-ep$epochId").toString,
          s"ep$epochId", sch, partitionId, taskId, ws)
    }
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    if (Files.exists(markerFor(epochId))) {
      // replayed epoch: everything in it already landed — drop it
      DruidBatchWrite.deleteRecursively(stagingFor(epochId))
      return
    }
    // a crash mid-commit (some segments moved, marker not yet written)
    // leaves partial "-ep<id>" segments behind; purge them before the
    // replayed commit so the epoch lands exactly once. Segment names
    // embed the epoch token as a standalone "-"-separated component
    // (segment-<part>-<task>-ep<id>[-<bucket>]), so ep7 never matches
    // ep72.
    val token = s"ep$epochId"
    val stale = {
      val l = Files.list(Paths.get(root))
      try l.iterator().asScala.filter(p => Files.isDirectory(p) &&
        graft.format.DruidSegment.isSegmentDir(p) &&
        p.getFileName.toString.split("-").contains(token)).toSeq
      finally l.close()
    }
    stale.foreach(DruidBatchWrite.deleteRecursively)
    DruidBatchWrite.commitJob(root, schema, spec, truncate = false,
      stagingDir = stagingFor(epochId), messages = messages)
    Files.createDirectories(markerFor(epochId).getParent)
    Files.createFile(markerFor(epochId))
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    DruidBatchWrite.deleteRecursively(stagingFor(epochId))
}

final case class DruidCommitMessage(segments: Seq[SegMeta]) extends WriterCommitMessage

class DruidBatchWrite(root: String, schema: StructType, truncate: Boolean,
                      spec: WriteSpec,
                      replaceRange: Option[(Long, Long)] = None)
    extends BatchWrite {

  // job-unique token: staging dir name + segment-name suffix, so repeat
  // writes to the same destination never collide on partition/task ids
  private val jobId = java.util.UUID.randomUUID().toString.take(8)
  private val stagingDir = Paths.get(root, s".staging-$jobId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(stagingDir)
    new DruidDataWriterFactory(stagingDir.toString, jobId, schema, spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DruidBatchWrite.commitJob(root, schema, spec, truncate, stagingDir,
      messages, replaceRange)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // nothing committed ever left staging: drop it, destination intact
    DruidBatchWrite.deleteRecursively(stagingDir)
}

object DruidBatchWrite {
  /** Shared job commit for the batch and streaming paths: fail-fast
    * union-schema check, atomic per-segment moves out of `stagingDir`,
    * (batch overwrite only) truncate-last deletion of prior segments,
    * and a manifest refresh.
    */
  def commitJob(root: String, schema: StructType, spec: WriteSpec,
                truncate: Boolean, stagingDir: Path,
                messages: Array[WriterCommitMessage],
                replaceRange: Option[(Long, Long)] = None): Unit = {
    val rootPath = Paths.get(root)
    // reap expired trash from earlier swaps — maintenance rides commits,
    // so deferred deletion needs no scheduler of its own
    try SegmentCatalog.purgeTombstoned(root) catch { case _: Exception => () }
    // segments present before this job (overwrite retires them LAST);
    // tombstoned dirs are already logically gone — resurrecting them
    // into `previous` would re-manifest deleted data
    val previous: Seq[Path] = SegmentCatalog.listLiveSegmentDirs(rootPath)
    // interval-scoped overwrite: validate BEFORE anything moves — a
    // failed check leaves the destination exactly as it was
    val newMetas = messages.toSeq
      .collect { case DruidCommitMessage(segs) => segs }.flatten
    val replaceDrop: Seq[Path] = replaceRange match {
      case None => Nil
      case Some((lo, hi)) =>
        val stray = newMetas.filter(m =>
          m.rows > 0 && (m.startMs < lo || m.endMs > hi))
        require(stray.isEmpty,
          s"REPLACE WHERE: replacement rows outside [$lo, $hi): " +
            stray.map(_.dir).mkString(", "))
        if (previous.isEmpty) Nil
        else {
          val metas = SegmentCatalog.metaFor(root)
          val straddle = metas.filter(m =>
            !(m.endMs <= lo || m.startMs >= hi) &&
              !(m.startMs >= lo && m.endMs <= hi))
          require(straddle.isEmpty,
            s"REPLACE WHERE range [$lo, $hi) splits segments: " +
              straddle.map(_.dir).mkString(", "))
          metas.filter(m => m.startMs >= lo && m.endMs <= hi)
            .map(m => Paths.get(m.dir))
        }
    }
    // union read schema, computed BEFORE anything moves: an append
    // whose columns conflict with the existing table's types fails
    // fast here, leaving the destination untouched. Schema evolution
    // (new/missing columns) unions cleanly; only a same-name type
    // clash throws.
    val newSchema = DruidTableUtil.readSchemaOf(schema, spec)
    val tableSchema: Option[org.apache.spark.sql.types.StructType] =
      try {
        if (truncate || previous.isEmpty) Some(newSchema)
        else {
          val oldDirs = previous.map(_.toString)
          val old = SegmentCatalog.loadSchema(root, oldDirs)
            .getOrElse(DruidTableUtil.unionSchemaOf(oldDirs))
          Some(DruidTableUtil.unionSchema(Seq(old, newSchema)))
        }
      } catch {
        case e: IllegalArgumentException => throw e // type conflict: fail the job
        case _: Exception => None // unreadable old segment: skip the cache only
      }
    // same-filesystem moves (staging lives under the destination): the
    // committed segments appear atomically, one directory at a time.
    // The planning sidecar is written while the segment is still in
    // staging, so segment and metadata land together — a segment can
    // never exist in the table without its sidecar.
    // When this commit also REMOVES segments (overwrite / REPLACE
    // WHERE), a pending-swap marker brackets the whole
    // move-in-then-delete window so a concurrent reader resolves to
    // exactly one table generation — without it, a listing taken
    // between the first move and the last delete counts BOTH.
    val removedNames =
      (if (truncate) previous else replaceDrop).map(_.getFileName.toString)
    val addedNames = newMetas.map(m => Paths.get(m.dir).getFileName.toString)
    if (removedNames.nonEmpty)
      try SegmentCatalog.writePending(root, addedNames, removedNames)
      catch { case _: Exception => () } // marker is best-effort, like the manifest
    val committed = messages.toSeq.collect { case DruidCommitMessage(segs) =>
      segs.map { m =>
        try SegmentCatalog.writeSidecar(m)
        catch { case _: Exception => () } // sidecar is a cache
        val src = Paths.get(m.dir)
        val dst = rootPath.resolve(src.getFileName)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        m.copy(dir = dst.toString)
      }
    }.flatten
    // replaced segments are TOMBSTONED, not deleted: still openable by
    // in-flight reads that planned them, invisible to new listings,
    // physically reaped by purgeTombstoned after the grace period
    if (truncate) previous.foreach(SegmentCatalog.tombstone)
    replaceDrop.foreach(SegmentCatalog.tombstone)
    deleteRecursively(stagingDir)
    // refresh the planning manifest. Overwrite rewrites the base
    // snapshot (the old table state is gone). Append / REPLACE WHERE
    // commit ONE small delta file — O(this job's segments), never a
    // rewrite of the whole snapshot — unless some pre-existing segment
    // has no cached metadata at all (hand-copied, no sidecar): then one
    // parallel metadata pass folds everything into a fresh base so
    // every later query plans from the manifest alone
    try {
      if (truncate)
        SegmentCatalog.write(root, committed.sortBy(_.dir), tableSchema)
      else {
        val dirs = SegmentCatalog.listLiveSegmentDirs(rootPath).map(_.toString)
        val newNames = committed.map(m => Paths.get(m.dir).getFileName.toString).toSet
        val old = dirs.filterNot(d => newNames.contains(Paths.get(d).getFileName.toString))
        val removed = replaceDrop.map(_.getFileName.toString)
        SegmentCatalog.load(root, old) match {
          case Some(_) =>
            // tableSchema = None means the union could not be computed
            // (unreadable old segment) — the delta must then CLEAR the
            // cached base schema, or readers would be served a stale
            // schema missing this append's new columns
            SegmentCatalog.appendDelta(root, committed.sortBy(_.dir),
              removes = removed, schema = tableSchema,
              invalidateSchema = tableSchema.isEmpty)
          case None =>
            val existing = SegmentCatalog.openAll(old)
            SegmentCatalog.write(root,
              (existing ++ committed).sortBy(_.dir), tableSchema)
        }
      }
    } catch { case _: Exception => () } // manifest is a cache; never fail the job
    if (removedNames.nonEmpty) SegmentCatalog.clearPending(root)
  }

  private[druid] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

class DruidDataWriterFactory(stagingRoot: String, jobId: String,
                             schema: StructType, spec: WriteSpec)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DruidDataWriter(stagingRoot, jobId, schema, partitionId, taskId, spec)
}

/** Per-task writer buffering rows in TYPED columnar builders: numeric
  * values land in growable primitive arrays (no per-value boxing, no
  * per-value pattern match after setup), so task memory tracks the data
  * size and a multi-million-row partition encodes within a bounded heap.
  */
class DruidDataWriter(stagingRoot: String, jobId: String, schema: StructType,
                      partitionId: Int, taskId: Long, spec: WriteSpec)
    extends DataWriter[InternalRow] {

  // ---- typed builders ----

  private final class LongBuilder {
    private var a = new Array[Long](1024)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def result(): Array[Long] = java.util.Arrays.copyOf(a, n)
  }
  private final class IntBuilder {
    private var a = new Array[Int](64)
    private var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def result(): Array[Int] = java.util.Arrays.copyOf(a, n)
  }
  private final class DoubleBuilder {
    private var a = new Array[Double](1024)
    private var n = 0
    def add(v: Double): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def result(): Array[Double] = java.util.Arrays.copyOf(a, n)
  }
  private final class FloatBuilder {
    private var a = new Array[Float](1024)
    private var n = 0
    def add(v: Float): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def result(): Array[Float] = java.util.Arrays.copyOf(a, n)
  }

  /** One typed column buffer. `values(sel)` materializes either all
    * rows (sel == null) or the selected row indices — the granularity
    * split picks per-bucket rows without re-boxing anything.
    */
  private sealed trait ColBuf {
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit
    def values(sel: Array[Int]): ColumnValues
  }
  private def pick[T](all: Array[T], sel: Array[Int])
                     (implicit ct: scala.reflect.ClassTag[T]): Array[T] =
    if (sel == null) all else { val out = new Array[T](sel.length)
      var i = 0; while (i < sel.length) { out(i) = all(sel(i)); i += 1 }; out }
  /** Remap absolute null-row indices into bucket-local positions. */
  private def pickNulls(nulls: Array[Int], sel: Array[Int]): Array[Int] =
    if (sel == null) nulls
    else {
      val set = nulls.toSet
      val out = new IntBuilder
      var i = 0
      while (i < sel.length) { if (set.contains(sel(i))) out.add(i); i += 1 }
      out.result()
    }
  private final class LongBuf(fromInt: Boolean) extends ColBuf {
    val b = new LongBuilder; val nulls = new IntBuilder
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      if (row.isNullAt(i)) { nulls.add(rowIdx); b.add(0L) }
      else b.add(if (fromInt) row.getInt(i).toLong else row.getLong(i))
    def values(sel: Array[Int]): ColumnValues =
      LongValues(pick(b.result(), sel), pickNulls(nulls.result(), sel))
  }
  private final class TimestampBuf(ntz: Boolean) extends ColBuf {
    val b = new LongBuilder; val nulls = new IntBuilder
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      if (row.isNullAt(i)) { nulls.add(rowIdx); b.add(0L) }
      else b.add(row.getLong(i)) // micros, full precision
    def values(sel: Array[Int]): ColumnValues =
      TimestampValues(pick(b.result(), sel), pickNulls(nulls.result(), sel), ntz)
  }
  private final class DoubleBuf extends ColBuf {
    val b = new DoubleBuilder; val nulls = new IntBuilder
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      if (row.isNullAt(i)) { nulls.add(rowIdx); b.add(0.0) }
      else b.add(row.getDouble(i))
    def values(sel: Array[Int]): ColumnValues =
      DoubleValues(pick(b.result(), sel), pickNulls(nulls.result(), sel))
  }
  private final class FloatBuf extends ColBuf {
    val b = new FloatBuilder; val nulls = new IntBuilder
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      if (row.isNullAt(i)) { nulls.add(rowIdx); b.add(0f) }
      else b.add(row.getFloat(i))
    def values(sel: Array[Int]): ColumnValues =
      FloatValues(pick(b.result(), sel), pickNulls(nulls.result(), sel))
  }
  private final class StringBuf extends ColBuf {
    val b = new ArrayBuffer[String](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
    def values(sel: Array[Int]): ColumnValues = StringValues(pick(b.toArray, sel))
  }
  private final class BinaryBuf(typeName: String) extends ColBuf {
    val b = new ArrayBuffer[Array[Byte]](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null else row.getBinary(i))
    def values(sel: Array[Int]): ColumnValues =
      ComplexValues(typeName, pick(b.toArray, sel))
  }
  /** COMPLEX&lt;json&gt; from a STRING column already holding JSON text
    * (tagged via the `complexTypes` option, e.g. "props:json"): the
    * text lands as UTF-8 blobs with typeName "json" — Druid's nested
    * ("auto") column tag, with a documented substitute encoding (JSON
    * text, not Druid's proprietary nested-column field dictionaries —
    * the reference errors on ALL Complex reads, src/column/mod.rs:59-61).
    */
  private final class JsonTextBuf extends ColBuf {
    val b = new ArrayBuffer[Array[Byte]](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null else row.getUTF8String(i).getBytes)
    def values(sel: Array[Int]): ColumnValues =
      ComplexValues("json", pick(b.toArray, sel))
  }
  /** COMPLEX&lt;json&gt; as NestedCommonFormat V5 (`jsonEncoding=nested`):
    * JSON text rows land field-shredded with global dictionaries and
    * per-field sub-columns (format/NestedColumn.scala) — real Druid's
    * modern "auto" layout, which the reference cannot read at all
    * (src/column/mod.rs:59-61).
    */
  private final class NestedJsonTextBuf extends ColBuf {
    val b = new ArrayBuffer[String](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
    def values(sel: Array[Int]): ColumnValues =
      NestedJsonValues(pick(b.toArray, sel))
  }
  /** COMPLEX&lt;json&gt; from a nested Spark column (struct / map / numeric
    * array): serialized per row with Spark's own `to_json` machinery
    * (StructsToJson — deterministic field order = schema order), so
    * `df.write` accepts nested frames directly, like Druid's "auto"
    * dimension ingest. Reads back as a JSON STRING column that
    * `get_json_object` / `from_json` consume.
    */
  private final class JsonStructBuf(dt: DataType, nested: Boolean = false)
      extends ColBuf {
    // Spark's own to_json machinery (StructsToJson is RuntimeReplaceable
    // in Spark 4 — its runtime body is this evaluator)
    private val toJson =
      org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator(
        Map.empty[String, String], dt, Some("UTC"))
    val b = new ArrayBuffer[Array[Byte]](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null
            else toJson.evaluate(row.get(i, dt))
              .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    def values(sel: Array[Int]): ColumnValues =
      if (nested) NestedJsonValues(pick(b.toArray, sel).map(bb =>
        if (bb == null) null
        else new String(bb, java.nio.charset.StandardCharsets.UTF_8)))
      else ComplexValues("json", pick(b.toArray, sel))
  }
  private final class MultiStringBuf extends ColBuf {
    val b = new ArrayBuffer[Seq[String]](1024)
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b += (if (row.isNullAt(i)) null
      else {
        val arr = row.getArray(i)
        (0 until arr.numElements()).map(k =>
          if (arr.isNullAt(k)) null else arr.getUTF8String(k).toString)
      })
    def values(sel: Array[Int]): ColumnValues =
      MultiStringValues(pick(b.toArray, sel))
  }
  /** `__time`: epoch millis, Druid's native unit — floored from micros
    * when the column is a timestamp, taken verbatim when it is already
    * a LONG of epoch millis.
    */
  private final class TimeBuf(fromMicros: Boolean) extends ColBuf {
    val b = new LongBuilder
    def append(row: InternalRow, i: Int, rowIdx: Int): Unit =
      b.add(if (row.isNullAt(i)) 0L
        else if (fromMicros) Math.floorDiv(row.getLong(i), 1000L)
        else row.getLong(i))
    def values(sel: Array[Int]): ColumnValues = LongValues(pick(b.result(), sel))
    def millis: Array[Long] = b.result()
  }

  private val fields = schema.fields
  private val timeIdx = fields.indexWhere(_.name == "__time")
  // complex typeName carried in the field METADATA by the read side:
  // lets compaction / read-then-rewrite preserve complex encodings
  // without the caller re-passing the complexTypes option
  private def fieldComplexType(f: StructField): Option[String] =
    if (f.metadata.contains("druid.complexType"))
      Some(f.metadata.getString("druid.complexType"))
    else None
  private val bufs: Array[ColBuf] = fields.zipWithIndex.map { case (f, i) =>
    if (i == timeIdx) new TimeBuf(fromMicros = f.dataType != LongType)
    else f.dataType match {
      case LongType => new LongBuf(fromInt = false)
      case IntegerType => new LongBuf(fromInt = true)
      case TimestampType => new TimestampBuf(ntz = false)
      case TimestampNTZType => new TimestampBuf(ntz = true)
      case DoubleType => new DoubleBuf
      case FloatType => new FloatBuf
      case StringType if spec.complexTypes.get(f.name).contains("json") ||
          fieldComplexType(f).contains("json") =>
        if (spec.nestedJson) new NestedJsonTextBuf else new JsonTextBuf
      // a column read back from a nested-written segment carries the
      // nestedCommonFormat tag in its metadata: rewrite it nested, so
      // compaction/CTAS round-trips preserve the encoding
      case StringType if fieldComplexType(f)
          .contains(graft.format.NestedColumn.PartType) =>
        new NestedJsonTextBuf
      case StringType => new StringBuf
      case BinaryType => new BinaryBuf(spec.complexTypes.getOrElse(f.name,
        fieldComplexType(f).getOrElse("binary")))
      case ArrayType(StringType, _) => new MultiStringBuf
      case dt @ (_: StructType | _: MapType | _: ArrayType) =>
        new JsonStructBuf(dt, nested = spec.nestedJson)
      case other => throw new IllegalArgumentException(
        s"druid writer: unsupported type $other for '${f.name}'")
    }
  }
  private var rowCount = 0

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < bufs.length) {
      bufs(i).append(row, i, rowCount)
      i += 1
    }
    rowCount += 1
  }

  /** Apply a row selection to already-materialized column values (the
    * granularity split picks per-bucket rows from ONE materialization).
    */
  private def selectValues(cv: ColumnValues, sel: Array[Int]): ColumnValues =
    if (sel == null) cv
    else cv match {
      case LongValues(v, nulls) => LongValues(pick(v, sel), pickNulls(nulls, sel))
      case TimestampValues(v, nulls, z) =>
        TimestampValues(pick(v, sel), pickNulls(nulls, sel), z)
      case DoubleValues(v, nulls) => DoubleValues(pick(v, sel), pickNulls(nulls, sel))
      case FloatValues(v, nulls) => FloatValues(pick(v, sel), pickNulls(nulls, sel))
      case StringValues(v) => StringValues(pick(v, sel))
      case MultiStringValues(v) => MultiStringValues(pick(v, sel))
      case ComplexValues(t, v) => ComplexValues(t, pick(v, sel))
      case NestedJsonValues(v) => NestedJsonValues(pick(v, sel))
    }

  /** Druid's ingest-time ("best-effort") rollup: within this task's
    * buffer, rows with equal (__time floored to granularity `g`, every
    * dimension value) collapse to one row whose numeric metrics are
    * SUMMED (nulls ignored; an all-null group stays null — Spark's own
    * sum semantics, so re-aggregating reads match the raw data).
    * Dimensions are the string/array columns plus any column named in
    * `extraDims` (Druid's dimensionsSpec equivalent — numeric ids that
    * must group, not sum). Rollup is deliberately NOT global across
    * tasks — exactly like Druid, where rollup happens per in-memory
    * index flush and a rolled-up table is always queried through
    * re-aggregation, which merges whatever partial collapse the layout
    * achieved. Task memory is O(distinct keys): the point of rolling up
    * at ingest is that this is much smaller than the raw rows.
    *
    * Grouping is allocation-lean: each dim column dictionary-encodes to
    * an int id array in one pass (boxing O(distinct values), not
    * O(rows)), and key probing reuses one mutable [[RollupKey]].
    */
  private def rollupRows(time: Array[Long],
      cols: IndexedSeq[(String, ColumnValues)], g: String,
      extraDims: Set[String])
      : (Array[Long], IndexedSeq[(String, ColumnValues)]) = {
    val n = time.length
    val dimIdx = cols.indices.filter(i => cols(i)._2 match {
      case _: StringValues | _: MultiStringValues => true
      case _ => extraDims.contains(cols(i)._1)
    })
    // per-dim dictionary encoding: value -> dense int id; numeric null
    // rows get the reserved id -1 (distinct from every real value)
    val dimIds: Array[Array[Int]] = dimIdx.map { i =>
      val ids = new Array[Int](n)
      def encode[T](get: Int => T, nulls: java.util.BitSet): Unit = {
        val m = new java.util.HashMap[T, Integer]()
        var r = 0
        while (r < n) {
          ids(r) =
            if (nulls != null && nulls.get(r)) -1
            else m.computeIfAbsent(get(r), _ => Integer.valueOf(m.size))
          r += 1
        }
      }
      def bits(nulls: Array[Int]): java.util.BitSet = {
        val b = new java.util.BitSet(); nulls.foreach(b.set); b
      }
      cols(i)._2 match {
        case StringValues(v) => encode(v(_), null)
        case MultiStringValues(v) => encode(v(_), null)
        case LongValues(v, nulls) => encode(v(_), bits(nulls))
        case DoubleValues(v, nulls) =>
          // NaNs canonicalize via doubleToLongBits: all NaN rows group
          encode(r => java.lang.Double.doubleToLongBits(v(r)), bits(nulls))
        case FloatValues(v, nulls) =>
          encode(r => java.lang.Float.floatToIntBits(v(r)), bits(nulls))
        case other => throw new IllegalStateException( // rejected at build()
          s"rollup: '${cols(i)._1}' (${other.getClass.getSimpleName}) " +
            "cannot be a dimension")
      }
      ids
    }.toArray
    val keyToGid = new java.util.HashMap[RollupKey, Integer]()
    val probe = new RollupKey(0L, new Array[Int](dimIdx.length))
    val groupOf = new Array[Int](n)
    val gTime = new LongBuilder
    val firstRowB = new IntBuilder
    val floor: Long => Long =
      if (g == "none") t => t else graft.sql.DruidTime.granularity(g).floor
    var r = 0
    while (r < n) {
      probe.bucket = floor(time(r))
      var d = 0
      while (d < dimIds.length) { probe.ids(d) = dimIds(d)(r); d += 1 }
      var gid = keyToGid.get(probe)
      if (gid == null) {
        gid = Integer.valueOf(keyToGid.size())
        keyToGid.put(probe.snapshot, gid)
        gTime.add(probe.bucket)
        firstRowB.add(r)
      }
      groupOf(r) = gid.intValue()
      r += 1
    }
    val nG = keyToGid.size()
    val first = firstRowB.result()
    def nullBits(nulls: Array[Int]): java.util.BitSet = {
      val b = new java.util.BitSet(); nulls.foreach(b.set); b
    }
    val dimSet = dimIdx.toSet
    val outCols = cols.zipWithIndex.map { case ((name, cv), i) =>
      // dims (incl. declared numeric dims): constant within each group
      // by construction — take the group's first row
      if (dimSet.contains(i)) name -> selectValues(cv, first)
      else name -> (cv match {
        case LongValues(v, nulls) =>
          val ns = nullBits(nulls)
          val sums = new Array[Long](nG) // wrap-around, like Spark non-ANSI sum
          val any = new Array[Boolean](nG)
          var r = 0
          while (r < n) {
            if (!ns.get(r)) { sums(groupOf(r)) += v(r); any(groupOf(r)) = true }
            r += 1
          }
          LongValues(sums, (0 until nG).filterNot(any).toArray)
        case DoubleValues(v, nulls) =>
          val ns = nullBits(nulls)
          val sums = new Array[Double](nG)
          val any = new Array[Boolean](nG)
          var r = 0
          while (r < n) {
            if (!ns.get(r)) { sums(groupOf(r)) += v(r); any(groupOf(r)) = true }
            r += 1
          }
          DoubleValues(sums, (0 until nG).filterNot(any).toArray)
        case FloatValues(v, nulls) =>
          // accumulate in double, store back as float (the column type)
          val ns = nullBits(nulls)
          val sums = new Array[Double](nG)
          val any = new Array[Boolean](nG)
          var r = 0
          while (r < n) {
            if (!ns.get(r)) { sums(groupOf(r)) += v(r); any(groupOf(r)) = true }
            r += 1
          }
          FloatValues(sums.map(_.toFloat), (0 until nG).filterNot(any).toArray)
        case other => throw new IllegalStateException( // rejected at build()
          s"rollup: unsupported column '$name' ${other.getClass.getSimpleName}")
      })
    }
    (gTime.result(), outCols)
  }

  override def commit(): WriterCommitMessage = {
    val rawTime: Array[Long] =
      if (timeIdx >= 0) bufs(timeIdx).asInstanceOf[TimeBuf].millis
      else new Array[Long](rowCount)
    // materialize each column ONCE; bucket splits then select from this
    // (the builders would otherwise re-materialize per bucket)
    val rawCols: IndexedSeq[(String, ColumnValues)] = fields.indices
      .filter(_ != timeIdx)
      .map(i => fields(i).name -> bufs(i).values(null)).toIndexedSeq
    val (time, matCols) = spec.rollupGran match {
      case Some(g) => rollupRows(rawTime, rawCols, g, spec.rollupDims)
      case None => (rawTime, rawCols)
    }
    val nRows = time.length

    // Per-numeric-column zone maps over NON-NULL rows, three forms:
    //  - `zones` (pruning): double [min, max] widened one ulp so
    //    long->double rounding can never prune a matching segment;
    //  - `xl` (exact long min/max) and `xd` (exact double/float
    //    min/max): complete MIN/MAX(col) pushdown answers.
    // A column with no non-null rows gets no zone; a NaN anywhere
    // disables the column's zones (NaN sorts above +Infinity in Spark
    // and a [lo, hi] range can't represent it).
    def zonesOf(columns: Seq[(String, ColumnValues)]):
        (Map[String, (Double, Double)], Map[String, (Long, Long)],
         Map[String, (Double, Double)], Map[String, Long]) = {
      def range(vs: Iterator[Double]): Option[(Double, Double)] = {
        var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
        var any = false; var nan = false
        vs.foreach { v =>
          any = true
          if (v.isNaN) nan = true
          else { if (v < lo) lo = v; if (v > hi) hi = v }
        }
        if (any && !nan) Some((lo, hi)) else None
      }
      def nonNull[T](vs: Array[T], nulls: Array[Int]): Iterator[Int] = {
        val skip = nulls.toSet
        vs.indices.iterator.filterNot(skip)
      }
      val widened = Map.newBuilder[String, (Double, Double)]
      val xl = Map.newBuilder[String, (Long, Long)]
      val xd = Map.newBuilder[String, (Double, Double)]
      val ls = Map.newBuilder[String, Long]
      columns.foreach {
        case (name, LongValues(vs, nulls)) =>
          val idx = nonNull(vs, nulls).toArray
          if (idx.nonEmpty) {
            var lo = Long.MaxValue; var hi = Long.MinValue
            var sum = 0L // wrap-around semantics match Spark's non-ANSI sum
            idx.foreach { i =>
              if (vs(i) < lo) lo = vs(i)
              if (vs(i) > hi) hi = vs(i)
              sum += vs(i)
            }
            xl += name -> (lo, hi)
            ls += name -> sum
            widened += name ->
              (Math.nextDown(lo.toDouble), Math.nextUp(hi.toDouble))
          }
        case (name, DoubleValues(vs, nulls)) =>
          range(nonNull(vs, nulls).map(vs(_))).foreach { r =>
            xd += name -> r; widened += name -> r
          }
        case (name, FloatValues(vs, nulls)) =>
          range(nonNull(vs, nulls).map(vs(_).toDouble)).foreach { r =>
            xd += name -> r; widened += name -> r
          }
        case _ => ()
      }
      (widened.result(), xl.result(), xd.result(), ls.result())
    }

    // per-string-column [min, max] over NON-NULL values, Java
    // `compareTo` order (the prune side compares the same way — only
    // self-consistency matters for a membership envelope); an all-null
    // column gets no zone
    def strZonesOf(columns: Seq[(String, ColumnValues)]): Map[String, (String, String)] =
      columns.flatMap {
        case (name, StringValues(vs)) =>
          var lo: String = null; var hi: String = null
          var i = 0
          while (i < vs.length) {
            val v = vs(i)
            if (v != null) {
              if (lo == null || v.compareTo(lo) < 0) lo = v
              if (hi == null || v.compareTo(hi) > 0) hi = v
            }
            i += 1
          }
          if (lo == null) None else Some(name -> (lo, hi))
        case _ => None
      }.toMap

    // per-column null-ROW counts, EVERY stored column keyed (0
    // included: key presence records column presence; __time is never
    // null). Powers COUNT(col) pushdown + all-null segment pruning.
    def nullCountsOf(columns: Seq[(String, ColumnValues)]): Map[String, Long] =
      columns.map {
        case (name, LongValues(_, nulls)) => name -> nulls.length.toLong
        case (name, TimestampValues(_, nulls, _)) => name -> nulls.length.toLong
        case (name, DoubleValues(_, nulls)) => name -> nulls.length.toLong
        case (name, FloatValues(_, nulls)) => name -> nulls.length.toLong
        case (name, StringValues(vs)) => name -> vs.count(_ == null).toLong
        case (name, MultiStringValues(vs)) => name -> vs.count(_ == null).toLong
        case (name, ComplexValues(_, vs)) => name -> vs.count(_ == null).toLong
        case (name, NestedJsonValues(vs)) => name -> vs.count(_ == null).toLong
      }.toMap + ("__time" -> 0L)

    def writeSegment(suffix: String, sel: Array[Int]): SegMeta = {
      val columns = matCols.map { case (n, cv) => n -> selectValues(cv, sel) }
      val dir = Paths.get(stagingRoot,
        f"segment-$partitionId%05d-$taskId-$jobId$suffix")
      val t = pick(time, sel)
      SegmentWriter.write(dir, t, columns, compression = spec.codec,
        stringBitmaps = spec.bitmapIndexes,
        frontCodedStrings = spec.frontCodedStrings,
        rollup = spec.rollupGran.isDefined,
        queryGranularity = spec.rollupGran.getOrElse("none"),
        conciseBitmaps = spec.conciseBitmaps)
      // mirror SegmentWriter's interval convention (empty -> [0, 1))
      val start = if (t.isEmpty) 0L else t.min
      val end = if (t.isEmpty) 1L else t.max + 1
      val (widened, xl, xd, ls) = zonesOf(columns)
      SegMeta(dir.toString, start, end, t.length, exactInterval = true,
        zones = widened, strZones = strZonesOf(columns),
        nullCounts = Some(nullCountsOf(columns)),
        exactLongZones = xl, exactDoubleZones = xd, longSums = ls,
        timeSorted = true, granularity = spec.granularity)
    }

    // rows land __time-ascending inside every segment, like Druid's own
    // indexer: time-adjacent rows compress better, boundary intervals
    // are tight, and the scan can report per-partition ordering
    // (SupportsReportOrdering) so Spark drops redundant time sorts.
    // `null` selection = already sorted input, zero-copy path.
    val order: Array[Int] = {
      var sorted = true
      var r = 1
      while (sorted && r < nRows) {
        if (time(r - 1) > time(r)) sorted = false
        r += 1
      }
      if (sorted) null
      else {
        val idx = Array.tabulate(nRows)(identity)
        // boxed sort keeps stability (ties stay in arrival order)
        val boxed = idx.map(Int.box)
        java.util.Arrays.sort(boxed,
          (a: Integer, b: Integer) => {
            val c = java.lang.Long.compare(time(a), time(b))
            if (c != 0) c else Integer.compare(a, b)
          })
        var i = 0
        while (i < nRows) { idx(i) = boxed(i); i += 1 }
        idx
      }
    }

    val segs = spec.granularity.filter(_ => timeIdx >= 0 && nRows > 0) match {
      case None => Seq(writeSegment("", order))
      case Some(g) =>
        // one segment per UTC time bucket: intervals align with the
        // granularity, so __time range scans prune whole segments.
        // Traversal follows the sorted order, so per-bucket selections
        // stay time-ascending.
        val gran = graft.sql.DruidTime.granularity(g)
        val buckets = new java.util.TreeMap[Long, IntBuilder]()
        var r = 0
        while (r < nRows) {
          val ri = if (order == null) r else order(r)
          buckets.computeIfAbsent(gran.floor(time(ri)),
            _ => new IntBuilder).add(ri)
          r += 1
        }
        buckets.entrySet().asScala.map { e =>
          writeSegment(s"-${e.getKey}", e.getValue.result())
        }.toSeq
    }
    DruidCommitMessage(segs)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}

/** Group key for the writer's rollup hash map: time bucket + one
  * dictionary id per dimension. Mutable so ONE probe instance serves
  * every lookup; a fresh copy is allocated only on first sight of a
  * key — per-row allocation is zero on the hot (duplicate) path,
  * keeping the writer's no-per-value-boxing design. TOP-LEVEL (not
  * nested in the writer): an inner class would drag an $outer
  * reference into every stored key and defeat the runtime type test
  * in equals.
  */
private[druid] final class RollupKey(var bucket: Long, val ids: Array[Int]) {
  override def hashCode: Int = {
    var h = java.lang.Long.hashCode(bucket)
    var i = 0
    while (i < ids.length) { h = 31 * h + ids(i); i += 1 }
    h
  }
  override def equals(o: Any): Boolean = o match {
    case k: RollupKey =>
      k.bucket == bucket && java.util.Arrays.equals(k.ids, ids)
    case _ => false
  }
  def snapshot: RollupKey = new RollupKey(bucket, ids.clone())
}
