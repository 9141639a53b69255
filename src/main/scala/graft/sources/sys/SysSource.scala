package graft.sources.sys

import java.util.{Map => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Druid's `sys` metadata schema (`sys.segments` / `sys.servers` /
  * `sys.tasks`) served over the broker's live state — the first thing
  * Druid's own web console and ops dashboards query. Real Druid builds
  * these from the coordinator's metadata store (druid-sql
  * SystemSchema); here the durable state IS the segment catalog, so
  * `sys.segments` lists each served datasource's manifest AT SCAN TIME
  * (never a snapshot: a commit between two queries shows up in the
  * second), `sys.servers` reports this broker process, and `sys.tasks`
  * mirrors the async-statements registry (Druid's MSQ query tasks).
  *
  * Scale shape: one InputPartition per datasource; each partition
  * reads ITS manifest (sidecar JSON, no segment opens) wherever the
  * task runs — with 10^5 segments across many tables nothing funnels
  * through a single listing loop, and `WHERE datasource = 'x'` prunes
  * to one partition at planning (SupportsPushDownFilters). Honest
  * deviations from Druid, documented per column: `version` is the
  * writer's job token (we don't version by ingest wall-clock),
  * replication columns are constants (single shared-filesystem copy),
  * and in-memory served frames contribute no segment rows.
  */
object SysRegistry {
  /** One served datasource: `root` when segment-backed (manifest is
    * listable), None for in-memory frames; dims/metrics from the
    * serving schema (strings/arrays = dimensions, the rest = metrics,
    * Druid's own split).
    */
  final case class Datasource(name: String, root: Option[String],
                              dimensions: Seq[String], metrics: Seq[String])
  final case class ServerRow(server: String, host: String,
                             plaintextPort: Long, tlsPort: Long,
                             serverType: String, tier: String,
                             currSize: Long, maxSize: Long,
                             isLeader: Long, startTime: String)
  final case class TaskRow(taskId: String, typ: String, datasource: String,
                           createdTime: String, status: String,
                           runnerStatus: String, durationMs: Long,
                           host: String, plaintextPort: Long,
                           errorMsg: String)
  /** Live callbacks into one broker instance. Registered under the
    * broker's serve id; the CREATE TABLE DDL pins that id in its
    * options, so several brokers in one JVM never read each other's
    * state (each re-registration of sys.* re-points the tables).
    */
  final case class State(datasources: () => Seq[Datasource],
                         servers: () => Seq[ServerRow],
                         tasks: () => Seq[TaskRow])

  private val states = new ConcurrentHashMap[String, State]()
  def register(id: String, st: State): Unit = states.put(id, st)
  def unregister(id: String): Unit = states.remove(id)
  def get(id: String): State = {
    val st = states.get(id)
    if (st == null) throw new IllegalStateException(
      s"sys schema: no live broker registered under id '$id' — the " +
        "sys.* tables are views over a running graft broker; restart " +
        "the broker (DruidServe.start(sysSchema=true)) to re-register")
    st
  }
}

object SysSchemas {
  // Druid SystemSchema column sets (booleans surface as LONG 0/1 and
  // ports as LONG, like Druid's own sys tables).
  val segments: StructType = StructType(Seq(
    StructField("segment_id", StringType, nullable = false),
    StructField("datasource", StringType, nullable = false),
    StructField("start", StringType, nullable = false),
    StructField("end", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("partition_num", LongType, nullable = false),
    StructField("num_replicas", LongType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("is_active", LongType, nullable = false),
    StructField("is_published", LongType, nullable = false),
    StructField("is_available", LongType, nullable = false),
    StructField("is_realtime", LongType, nullable = false),
    StructField("is_overshadowed", LongType, nullable = false),
    StructField("shard_spec", StringType, nullable = true),
    StructField("dimensions", StringType, nullable = true),
    StructField("metrics", StringType, nullable = true),
    StructField("last_compaction_state", StringType, nullable = true),
    StructField("replication_factor", LongType, nullable = false),
    // graft extension, appended AFTER the full Druid column set so
    // Druid clients selecting named columns are unaffected: on
    // overshadowed (tombstoned, awaiting purge) rows, the JSON array
    // of live reader leases currently blocking this segment's physical
    // reclamation (`[{"id","created","expires"},...]`; `[]` = only the
    // grace period holds it) — the observability Druid's kill task
    // gets from segment locks. NULL on live rows.
    StructField("held_by_leases", StringType, nullable = true)))

  val servers: StructType = StructType(Seq(
    StructField("server", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("plaintext_port", LongType, nullable = false),
    StructField("tls_port", LongType, nullable = false),
    StructField("server_type", StringType, nullable = false),
    StructField("tier", StringType, nullable = true),
    StructField("curr_size", LongType, nullable = false),
    StructField("max_size", LongType, nullable = false),
    StructField("is_leader", LongType, nullable = false),
    StructField("start_time", StringType, nullable = false)))

  val tasks: StructType = StructType(Seq(
    StructField("task_id", StringType, nullable = false),
    StructField("group_id", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("datasource", StringType, nullable = false),
    StructField("created_time", StringType, nullable = false),
    StructField("queue_insertion_time", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("runner_status", StringType, nullable = false),
    StructField("duration", LongType, nullable = false),
    // the console's tasks view selects "location" (host:port) and the
    // full Druid column set includes tls_port (-1 = none, like Druid)
    StructField("location", StringType, nullable = true),
    StructField("host", StringType, nullable = true),
    StructField("plaintext_port", LongType, nullable = false),
    StructField("tls_port", LongType, nullable = false),
    StructField("error_msg", StringType, nullable = true)))

  def of(kind: String): StructType = kind match {
    case "segments" => segments
    case "servers"  => servers
    case "tasks"    => tasks
    case other => throw new IllegalArgumentException(
      s"graft-sys: unknown kind '$other' (segments|servers|tasks)")
  }
}

class SysDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sys"
  // the catalog stores the inferred schema and passes it back on load;
  // we accept it (it is always the kind-derived one)
  override def supportsExternalMetadata(): Boolean = true

  private def kindOf(options: CaseInsensitiveStringMap): String =
    graft.Settings.SysKind.in(options).getOrElse(throw new IllegalArgumentException(
      "graft-sys requires OPTIONS (kind 'segments|servers|tasks', serveid '...')"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SysSchemas.of(kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new SysTable(kindOf(opts), graft.Settings.SysServeId.in(opts).orNull)
  }
}

final class SysTable(kind: String, serveId: String)
    extends Table with SupportsRead {
  require(serveId != null, "graft-sys requires a serveid option")
  override def name(): String = s"sys.$kind"
  override def schema(): StructType = SysSchemas.of(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SysScanBuilder(kind, serveId)
}

final class SysScanBuilder(kind: String, serveId: String)
    extends ScanBuilder with SupportsPushDownFilters {
  // datasource names accepted for partition pruning; None = no pruning
  private var dsFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (kind == "segments") {
      val accepted = filters.collect {
        case f @ EqualTo("datasource", v: String) => (f, Set(v))
        case f @ In("datasource", vs) if vs.forall(_.isInstanceOf[String]) =>
          (f, vs.map(_.asInstanceOf[String]).toSet)
      }
      if (accepted.nonEmpty) {
        dsFilter = Some(accepted.map(_._2).reduce(_ intersect _))
        pushed = accepted.map(_._1)
      }
    }
    // everything stays a residual: pruning is an optimization, Spark
    // re-checks every row (rows carry the datasource column)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new SysScan(kind, serveId, dsFilter)
}

final class SysScan(kind: String, serveId: String,
                    dsFilter: Option[Set[String]]) extends Scan with Batch {
  override def readSchema(): StructType = SysSchemas.of(kind)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-sys $kind${dsFilter.fold("")(s => s" datasources=${s.toSeq.sorted.mkString(",")}")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val st = SysRegistry.get(serveId)
    kind match {
      case "segments" =>
        st.datasources()
          .filter(d => dsFilter.forall(_.contains(d.name)))
          .collect { case SysRegistry.Datasource(n, Some(root), dims, mets) =>
            SegmentsPartition(n, root, dims.toArray, mets.toArray)
              : InputPartition
          }.toArray
      case "servers" =>
        Array(StaticRowsPartition(st.servers().map(s => Array[Any](
          s.server, s.host, s.plaintextPort, s.tlsPort, s.serverType,
          s.tier, s.currSize, s.maxSize, s.isLeader, s.startTime)).toArray))
      case "tasks" =>
        Array(StaticRowsPartition(st.tasks().map(t => Array[Any](
          t.taskId, t.taskId, t.typ, t.datasource, t.createdTime,
          t.createdTime, t.status, t.runnerStatus, t.durationMs,
          if (t.host == null) null else s"${t.host}:${t.plaintextPort}",
          t.host, t.plaintextPort, -1L, t.errorMsg)).toArray))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SysReaderFactory
}

final case class SegmentsPartition(datasource: String, root: String,
                                   dimensions: Array[String],
                                   metrics: Array[String])
    extends InputPartition
final case class StaticRowsPartition(rows: Array[Array[Any]])
    extends InputPartition

final class SysReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case s: SegmentsPartition   => new SegmentsReader(s)
      case r: StaticRowsPartition => new StaticRowsReader(r.rows)
    }
}

/** Emits one row per live manifest entry of one datasource. Runs where
  * the task lands (manifest + segment dirs are shared-filesystem
  * state); reads ONLY the catalog sidecars plus a directory listing
  * per segment for on-disk size — never opens segment binary data.
  */
final class SegmentsReader(p: SegmentsPartition)
    extends PartitionReader[InternalRow] {
  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)
  private def jsonArr(names: Seq[String]): String =
    names.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
  private val PartNum = """segment-(\d+).*""".r

  // live manifest entries first, then tombstoned dirs as OVERSHADOWED
  // rows — Druid's sys.segments shows replaced-but-not-yet-killed
  // segments the same way (is_overshadowed=1, inactive, still
  // available until the kill/purge reclaims them)
  private val metas =
    (graft.sources.druid.SegmentCatalog.metaFor(p.root).map(m => (m, 0L)) ++
      graft.sources.druid.SegmentCatalog.tombstonedMeta(p.root).map(m => (m, 1L)))
      .iterator
  // live reader leases, read once per partition: overshadowed rows
  // report which leases hold their physical reclamation (a lease
  // protects tombstones at/after its creation — purgeTombstoned's rule)
  private val nowMs = System.currentTimeMillis()
  private val liveLeases =
    graft.sources.druid.ReadLease.live(p.root, nowMs).sortBy(_.created)
  private var current: InternalRow = _

  private def holdersJson(dir: java.nio.file.Path): String = {
    val ts = graft.sources.druid.SegmentCatalog.tombstonedAt(dir)
      .getOrElse(Long.MinValue) // unreadable marker: conservatively all
    liveLeases.filter(_.created <= ts || ts == Long.MinValue)
      .map(l => s"""{"id":"${l.id}","created":${l.created},"expires":${l.expires}}""")
      .mkString("[", ",", "]")
  }

  override def next(): Boolean = {
    if (!metas.hasNext) return false
    val (m, overshadowed) = metas.next()
    val dir = java.nio.file.Paths.get(m.dir)
    val base = dir.getFileName.toString
    val size = try {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    } catch { case _: Exception => 0L } // racing purge: report 0, not abort
    val partNum: Long = base match {
      case PartNum(n) => n.toLong
      case _          => 0L
    }
    val startIso = iso.format(java.time.Instant.ofEpochMilli(m.startMs))
    val endIso = iso.format(java.time.Instant.ofEpochMilli(m.endMs))
    def s(v: String) = UTF8String.fromString(v)
    current = new GenericInternalRow(Array[Any](
      s(s"${p.datasource}_${startIso}_${endIso}_$base"),
      s(p.datasource), s(startIso), s(endIso),
      size, s(base), partNum,
      1L, m.rows.toLong,
      1L - overshadowed /* is_active */, 1L /* is_published */,
      1L /* is_available */, 0L /* is_realtime */, overshadowed,
      s(s"""{"type":"numbered","partitionNum":$partNum,"partitions":0}"""),
      s(jsonArr(p.dimensions.toSeq)), s(jsonArr(p.metrics.toSeq)),
      null, 1L,
      if (overshadowed == 1L) s(holdersJson(dir)) else null))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

final class StaticRowsReader(rows: Array[Array[Any]])
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < rows.length }
  override def get(): InternalRow =
    new GenericInternalRow(rows(i).map {
      case s: String => UTF8String.fromString(s)
      case other     => other
    })
  override def close(): Unit = ()
}
