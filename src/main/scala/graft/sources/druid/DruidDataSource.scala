package graft.sources.druid

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.{ColumnDescriptor, DruidSegment}

/** Spark DataSource V2 for Druid v9 segment directories:
  * `spark.read.format("druid").load(dir)` /
  * `df.write.format("druid").save(dir)`.
  *
  * The reference exposes one segment as one DataFusion table with a
  * single partition and projection-only pushdown
  * (src/datafusion_ext/table_provider.rs:47-72,
  * execution_plan.rs:42). This connector upgrades all three axes for
  * cluster scale:
  *  - a directory of segments is one table; each segment contributes
  *    row-range splits at compressed-block granularity, so a 1000-executor
  *    cluster parallelizes within and across segments;
  *  - column pruning AND segment-interval time pruning AND limit
  *    pushdown;
  *  - vectorized ColumnarBatch reads feeding whole-stage codegen.
  */
class DruidDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "druid"
  override def supportsExternalMetadata(): Boolean = true

  private def path(options: CaseInsensitiveStringMap): String =
    DruidTableUtil.localPath(graft.Settings.sparkPath(options).getOrElse(
      throw new IllegalArgumentException("druid source requires a path")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DruidTableUtil.schemaFor(path(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // install graft's functions and bitmap row-selection hint rule on
    // whatever session resolves a druid table (once per session; the
    // rule is a no-op on plans without a hint shape)
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.sql.GraftExtensions.install)
    new DruidTable(DruidTableUtil.localPath(properties.get("path")), schema)
  }
}

object DruidTableUtil {
  /** Normalize a table path to a plain filesystem path: the SQL catalog
    * hands DSv2 a URI-qualified location (`file:/x/y`), which
    * java.nio would treat as a LITERAL relative directory named
    * "file:" — segments would land inside the process cwd. Any
    * non-file scheme is rejected explicitly (this connector is
    * local/shared-filesystem only).
    */
  def localPath(p: String): String =
    if (p == null || !p.contains(":")) p
    else {
      val colon = p.indexOf(':')
      p.substring(0, colon) match {
        case "file" =>
          // tolerate file:/x, file:///x and percent-encoding
          val rest = p.substring(colon + 1)
          if (rest.startsWith("//")) new java.net.URI(p).getPath
          else java.net.URLDecoder.decode(rest, "UTF-8")
        case scheme if scheme.length > 1 => // single letter = windows drive
          throw new IllegalArgumentException(
            s"druid source supports local/shared filesystem paths only, got '$p'")
        case _ => p
      }
    }
  /** A table path is either one segment dir or a directory whose
    * subdirectories are segment dirs (the multi-segment layout the
    * reference never supports).
    */
  def discoverSegments(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (DruidSegment.isSegmentDir(p)) Seq(root)
    else if (Files.isDirectory(p)) {
      // tombstoned dirs are logically deleted (deferred physical
      // deletion): invisible to every new listing, still openable by
      // reads that planned them before the swap
      val segs = SegmentCatalog.listLiveSegmentDirs(p).map(_.toString).sorted
      if (segs.isEmpty)
        throw new IllegalArgumentException(s"no druid segments under $root")
      // a swap (compaction / overwrite) in progress: resolve the
      // listing to exactly one generation, never a mix of both
      SegmentCatalog.pendingFilter(root, segs)
    } else throw new IllegalArgumentException(s"not a directory: $root")
  }

  def sparkType(valueType: String): DataType = valueType match {
    case "STRING" => StringType
    case "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "COMPLEX" => BinaryType
    case other => throw new IllegalArgumentException(s"unknown valueType $other")
  }

  /** One segment's schema: `__time` as TimestampType plus every column
    * from its JSON descriptor (reference src/segment/mod.rs:59-68,
    * 118-129).
    */
  def segmentSchema(seg: DruidSegment): StructType =
    StructType(seg.columnNames.map { name =>
      if (name == "__time") StructField("__time", TimestampType, nullable = false)
      else {
        val (desc, _, _) = seg.columnHeader(name)
        val t =
          if (desc.valueType == "STRING" && desc.hasMultipleValues)
            ArrayType(StringType, containsNull = true)
          // COMPLEX<json> (nested/"auto" columns): surface as a JSON
          // STRING so get_json_object / from_json work directly —
          // the blobs are UTF-8 JSON text by the writer's contract
          else if (desc.valueType == "COMPLEX" &&
            (desc.partTypes.headOption.contains("json") ||
             desc.partTypes.headOption.contains(
               graft.format.NestedColumn.PartType))) StringType
          else desc.logicalType match {
            // LONG-backed micros written by our writer; restores the
            // original Spark type (values need no conversion: Spark's
            // internal timestamp representation IS epoch micros)
            case Some("timestamp_micros") => TimestampType
            case Some("timestamp_ntz_micros") => TimestampNTZType
            case _ => sparkType(desc.valueType)
          }
        // surface the complex typeName (e.g. "HLLSketch") so consumers
        // can tell sketch blobs from plain binary payloads
        val meta = desc.partTypes.headOption
          .filter(_ => desc.valueType == "COMPLEX").filter(_ != "binary")
          .map(tn => new MetadataBuilder()
            .putString("druid.complexType", tn).build())
          .getOrElse(Metadata.empty)
        StructField(name, t, nullable = true, meta)
      }
    })

  /** Union-merge per-segment schemas in first-seen order. A column
    * missing from some segments reads as null there (schema evolution:
    * a 100 TB table's segments accumulate columns over time); the same
    * name with two different types is a hard error — silent coercion
    * would corrupt numeric reads.
    */
  def unionSchema(schemas: Seq[StructType]): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      fields.get(f.name) match {
        case None => fields(f.name) = f
        case Some(prev) if prev.dataType == f.dataType => ()
        case Some(prev) => throw new IllegalArgumentException(
          s"column '${f.name}' has conflicting types across segments: " +
            s"${prev.dataType.sql} vs ${f.dataType.sql}")
      }
    })
    StructType(fields.values.toSeq)
  }

  /** Table schema = the union over every segment: from the manifest
    * when valid (zero segment opens), else one parallel open pass.
    */
  def schemaFor(root: String): StructType = {
    val dirs = discoverSegments(root)
    SegmentCatalog.loadSchema(root, dirs).getOrElse(unionSchemaOf(dirs))
  }

  /** Parallel-open fallback: union schema straight from segment
    * headers.
    */
  def unionSchemaOf(dirs: Seq[String]): StructType = {
    import scala.collection.parallel.CollectionConverters._
    unionSchema(dirs.par.map(d => segmentSchema(DruidSegment.open(d))).seq)
  }

  /** The schema a DataFrame written with `writeSchema` reads back as —
    * the writer's deterministic type mapping (DruidWrite buffers +
    * descriptor logicalType), applied without opening anything.
    */
  def readSchemaOf(writeSchema: StructType, spec: WriteSpec): StructType =
    StructType(writeSchema.fields.map { f =>
      if (f.name == "__time") StructField("__time", TimestampType, nullable = false)
      else {
        val t = f.dataType match {
          case IntegerType => LongType // widened by the long buffer
          case ArrayType(StringType, _) => ArrayType(StringType, containsNull = true)
          // nested columns land as COMPLEX<json> and read back as the
          // JSON text (StringType); a STRING tagged "json" in
          // complexTypes keeps StringType but becomes COMPLEX-backed
          case _: StructType | _: MapType | _: ArrayType => StringType
          case other => other // long/double/float/string/binary/timestamp[_ntz]
        }
        // mirror segmentSchema: tagged binary/json columns surface
        // their complex typeName in the cached schema's metadata too
        val jsonTag =
          if (spec.nestedJson) graft.format.NestedColumn.PartType else "json"
        val tag = f.dataType match {
          case BinaryType => spec.complexTypes.get(f.name)
          case StringType => spec.complexTypes.get(f.name).filter(_ == "json")
            .map(_ => jsonTag)
            .orElse(Option(f.metadata).filter(_.contains("druid.complexType"))
              .map(_.getString("druid.complexType")))
          case ArrayType(StringType, _) => None // multi-value dim, not complex
          case _: StructType | _: MapType | _: ArrayType => Some(jsonTag)
          case _ => None
        }
        val meta = tag
          .map(tn => new MetadataBuilder()
            .putString("druid.complexType", tn).build())
          .getOrElse(Metadata.empty)
        StructField(f.name, t, nullable = true, meta)
      }
    })
}

/** `DELETE FROM t WHERE <__time range>` as a metadata-only operation:
  * when the predicate is a pure `__time` range and every segment is
  * either fully inside or fully outside it, matching segments delete
  * whole — no scan, no rewrite (Druid's drop-by-interval through SQL).
  * Any other predicate, or a segment straddling the range, makes
  * `canDeleteWhere` return false and Spark rejects the DELETE rather
  * than silently deleting the wrong rows.
  */
object DruidDelete {
  import org.apache.spark.sql.sources._

  /** Conjunctive `__time`-only filters → `[loMs, hiMs)`; None when any
    * conjunct is not a `__time` range test. Sub-millisecond literal
    * precision is honored against the millis-floored stored values.
    */
  def timeRange(filters: Array[Filter]): Option[(Long, Long)] = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    // (floored millis, has sub-ms remainder)
    def ms(v: Any): Option[(Long, Boolean)] = v match {
      case t: java.sql.Timestamp =>
        Some((t.getTime, t.getNanos % 1000000 != 0))
      case i: java.time.Instant =>
        Some((i.toEpochMilli, i.getNano % 1000000 != 0))
      case _ => None
    }
    def apply(f: Filter): Boolean = f match {
      case And(l, r) => apply(l) && apply(r)
      case IsNotNull("__time") => true
      case LessThan("__time", v) => ms(v).exists { case (m, sub) =>
        hi = math.min(hi, if (sub) m + 1 else m); true }
      case LessThanOrEqual("__time", v) => ms(v).exists { case (m, _) =>
        hi = math.min(hi, m + 1); true }
      case GreaterThan("__time", v) => ms(v).exists { case (m, _) =>
        lo = math.max(lo, m + 1); true }
      case GreaterThanOrEqual("__time", v) => ms(v).exists { case (m, sub) =>
        lo = math.max(lo, if (sub) m + 1 else m); true }
      case _ => false
    }
    if (filters.nonEmpty && filters.forall(apply)) Some((lo, hi)) else None
  }
}

class DruidTable(root: String, schema0: StructType) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = s"druid:$root"

  /** Table directory, for callers that key external state on the
    * table (e.g. RollupRouting's staleness fingerprints).
    */
  def rootDir: String = root

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    DruidDelete.timeRange(filters).exists { case (lo, hi) =>
      // row-exact only if every segment is all-in or all-out; interval
      // containment is sound whether or not intervals are exact (rows
      // always lie inside their segment's interval)
      SegmentCatalog.metaFor(root).forall(m =>
        m.endMs <= lo || m.startMs >= hi ||
          (m.startMs >= lo && m.endMs <= hi))
    }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val (lo, hi) = DruidDelete.timeRange(filters).getOrElse(
      throw new UnsupportedOperationException(
        "druid DELETE supports only __time-range predicates"))
    graft.write.Retention.dropContained(root, lo, hi)
  }
  override def schema(): StructType =
    if (schema0 != null) schema0 else DruidTableUtil.schemaFor(root)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    graft.Settings.refuseUnknown(graft.Settings.ReadOption, options)
    new DruidScanBuilder(root, schema(), options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DruidWriteBuilder(root, info.schema(), WriteSpec.from(info.options()))
}
