package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.Compression
import graft.sql.DruidTime

/** Every setting graft reads, one row each: name, scope, type (with its
  * check), default and doc. Only this file reads system properties, env
  * vars, option maps and CLI flags (`SettingsGuardSpec`); README's
  * "Settings" section lists exactly these rows (`SettingsSpec`). A bad
  * value throws [[Settings.BadSetting]] naming the setting and quoting
  * the value; druid read and write options refuse unknown keys.
  */
object Settings {

  /** Where a setting is read from. */
  sealed abstract class Scope(val label: String)
  case object SystemProperty extends Scope("system property")
  case object EnvVar extends Scope("env var")
  case object ReadOption extends Scope("druid read option")
  case object WriteOption extends Scope("druid write option")
  case object CatalogOption extends Scope("catalog option")
  case object SysOption extends Scope("graft-sys option")
  final case class CliFlag(command: String) extends Scope(s"$command flag")

  /** A bad or unknown setting. CLI mains turn it into stderr + exit 2. */
  final class BadSetting(msg: String) extends IllegalArgumentException(msg)

  /** A value type: its label and a parser that returns None for a value
    * outside the type or its check.
    */
  final case class Type[T](label: String, read: String => Option[T]) {
    /** Unset ("") reads as None; any other value must parse. */
    def optional: Type[Option[T]] =
      Type(label, raw => if (raw.isEmpty) Some(None) else read(raw).map(Some(_)))
  }

  private def int(min: Int, max: Int = Int.MaxValue): Type[Int] =
    Type(if (max == Int.MaxValue) s"integer >= $min" else s"integer in $min..$max",
      _.trim.toIntOption.filter(n => n >= min && n <= max))
  private def long(min: Long): Type[Long] =
    Type(s"integer >= $min", _.trim.toLongOption.filter(_ >= min))
  private val bool: Type[Boolean] =
    Type("true/false", _.trim.toLowerCase.toBooleanOption)
  /** A CLI flag that takes no value: present = true. */
  private val switch: Type[Boolean] = Type("switch", bool.read)
  private val text: Type[String] = Type("string", Some(_))
  private def choice[T](pairs: (String, T)*): Type[T] =
    Type(pairs.map(_._1).mkString("/"), v => pairs.collectFirst { case (`v`, t) => t })
  private def oneOf(names: Iterable[String]): Type[String] =
    choice(names.toSeq.map(n => n -> n): _*)
  private val names: Type[Seq[String]] = Type("comma-separated names",
    v => Some(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
  private val granularity = oneOf(DruidTime.granularityNames.map(_._1))
  private val codec = Type[Byte]("lz4/zstd/lzf/uncompressed/none", v => Map(
    "lz4" -> Compression.LZ4, "zstd" -> Compression.ZSTD, "lzf" -> Compression.LZF,
    "uncompressed" -> Compression.UNCOMPRESSED, "none" -> Compression.NONE).get(v.toLowerCase))
  private val typeNames = Type[Map[String, String]]("col:typeName,...", v => Some(v.split(",")
    .map(_.trim).filter(_.contains(":")).map(_.split(":", 2)).map(kv => kv(0) -> kv(1)).toMap))
  private val column = Type[Option[String]]("column name", v => Some(Some(v.trim).filter(_.nonEmpty)))
  private val fraction =
    Type[Double]("number in (0, 1]", _.trim.toDoubleOption.filter(f => f > 0 && f <= 1))
  private val keyValue = Type[(String, String)]("key=value", _.split("=", 2) match {
    case Array(k, v) if k.nonEmpty => Some(k -> v)
    case _ => None
  })
  private val instant = Type[Long]("epoch millis or ISO instant", v =>
    v.toLongOption.orElse(scala.util.Try(DruidTime.instant(v)).toOption))

  /** One row. `default` is the raw default ("" = unset). */
  final class Setting[T] private[Settings] (val name: String, val scope: Scope,
      val default: String, tpe: Type[T], val doc: String) {
    def typeLabel: String = tpe.label
    def isSwitch: Boolean = tpe eq switch

    def parse(raw: String): T = tpe.read(raw).getOrElse(throw new BadSetting(
      s"${scope.label} $name: want ${tpe.label}, got '$raw'"))

    /** The value of a raw setting, or of the default when it is unset. */
    def from(raw: Option[String]): T = parse(raw.getOrElse(default))

    /** A system property or env var, read at call time. */
    def get: T = scope match {
      case SystemProperty => from(sys.props.get(name))
      case EnvVar => from(sys.env.get(name))
      case other => throw new IllegalStateException(s"$name is a ${other.label}")
    }

    /** A druid, catalog or graft-sys option. */
    def in(options: CaseInsensitiveStringMap): T = from(Option(options.get(name)))
  }

  private val all = ArrayBuffer.empty[Setting[_]]

  /** Declares the rows of one scope. */
  private final class Rows(scope: Scope) {
    def apply[T](name: String, default: String, tpe: Type[T], doc: String): Setting[T] = {
      val s = new Setting(name, scope, default, tpe, doc)
      all += s
      s
    }
  }
  private val prop = new Rows(SystemProperty)
  private val env = new Rows(EnvVar)
  private val write = new Rows(WriteOption)
  private val serve = new Rows(CliFlag("serve"))
  private val dump = new Rows(CliFlag("dump"))
  private val compact = new Rows(CliFlag("compact"))
  private val search = new Rows(CliFlag("search"))

  // system properties: read at every use, so specs can flip them
  val TrashGraceMs = prop("graft.trash.grace.ms", "900000", long(0),
    "Grace between a segment's tombstone and its removal; size it above the longest query.")
  val LeaseTtlMs = prop("graft.lease.ttl.ms", "300000", long(0),
    "Read-lease lifetime between renewals; readers renew at half-ttl.")
  val BarrierCacheBound = prop("graft.barrier.cache.bound", "8", int(1),
    "Pipeline barrier plans kept cached before the oldest is unpersisted.")

  val SparkMaster = env("SPARK_MASTER", "local[8]", text, "Spark master of the druid-tool CLIs.")
  val Cpus = env("SPARK_GRAFT_CPUS", "4", int(1), "Cores and shuffle partitions of Bench and Verify.")
  val SfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1", text, "Scale-factor directory Bench times.")
  val Only = env("SPARK_GRAFT_ONLY", "", names.optional, "Queries Bench and Verify run (unset: all).")
  val Passes = env("SPARK_GRAFT_PASSES", "3", int(1), "Timed Bench passes; each query reports its minimum.")
  val PlanFile = env("SPARK_GRAFT_PLAN_FILE", "BENCH_PLANS.json", text, "Bench's per-query plan hashes.")
  val BenchFile = env("SPARK_GRAFT_BENCH_FILE", "BENCH_FULL.json", text, "Bench's full result JSON.")
  val PlanTextDir = env("SPARK_GRAFT_PLAN_TEXT_DIR", "", text.optional,
    "Directory for Bench's canonical plan text per query (unset: none).")

  val RowsPerSplit = new Rows(ReadOption)("rowsPerSplit", "4194304", long(1),
    "Rows per input split; a larger segment is read by several tasks.")

  val BitmapIndexes = write("bitmapIndexes", "true", bool, "Write a bitmap index for every string column.")
  val StringEncoding = write("stringEncoding", "generic", choice("generic" -> false, "frontCoded" -> true),
    "String dictionary layout; frontCoded is Druid's prefix-compressed buckets.")
  val SegmentGranularityOpt = write("segmentGranularity", "", granularity.optional,
    "One segment per UTC time bucket, so time ranges prune segments (unset: one per task).")
  val Rollup = write("rollup", "false", bool,
    "Pre-aggregate at ingest: rows sharing floored __time and dimensions sum their metrics.")
  val QueryGranularity = write("queryGranularity", "none",
    oneOf("none" +: DruidTime.granularityNames.map(_._1)), "__time floor of rollup.")
  val CompressionOpt = write("compression", "lz4", codec, "Block codec of numeric and time columns.")
  val RollupDimensions = write("rollupDimensions", "", names,
    "Numeric columns that group rather than sum under rollup.")
  val ComplexTypes = write("complexTypes", "", typeNames,
    "Druid complex typeName per binary column; json tags a JSON-text string column.")
  val BitmapEncoding = write("bitmapEncoding", "roaring", choice("roaring" -> false, "concise" -> true),
    "Bitmap section encoding.")
  val ShardBy = write("shardBy", "", column, "Range-shard each time chunk on this dimension (single_dim).")
  val Shards = write("shards", "0", int(0), "Shard count of shardBy (0: Spark sizes the exchange).")
  val JsonEncoding = write("jsonEncoding", "blob", choice("blob" -> false, "nested" -> true),
    "JSON columns as UTF-8 text blobs or as Druid's nested V5 columns.")

  val CatalogRoot = new Rows(CatalogOption)("root", "", text.optional,
    "Directory of a GraftCatalog's segment tables (required).")
  private val sysOption = new Rows(SysOption)
  val SysKind = sysOption("kind", "", text.optional, "Table kind: segments, servers or tasks (required).")
  val SysServeId = sysOption("serveid", "", text.optional, "Id of the druid-serve it reads (required).")

  val ServePort = serve("--port", "8082", int(0, 65535), "HTTP port (0: any free port).")
  val ServeHost = serve("--host", "127.0.0.1", text, "Address to bind.")
  val ServeMaxRows = serve("--max-rows", "100000", int(1), "Result-row cap per query.")
  val ServeThreads = serve("--threads", "8", int(1), "HTTP worker threads.")
  val ServeLogQueries = serve("--log-queries", "false", switch, "Log every query.")
  val ServeStatementPageRows = serve("--statement-page-rows", "100000", int(1), "Rows per SQL statement page.")
  val ServeNoIngest = serve("--no-ingest", "false", switch, "Disable ingest endpoints.")
  val ServeAutoCompact = serve("--auto-compact", "", long(1).optional,
    "Seconds between compactions (unset: off).")
  val ServeCompactTargetRows = serve("--compact-target-rows", "5000000", long(1),
    "Rows per auto-compacted segment.")
  val ServeJdbcPort = serve("--jdbc-port", "", int(0, 65535).optional, "Thrift JDBC port (unset: off).")

  val DumpColumns = dump("--columns", "", names.optional, "Columns to print (unset: all).")
  val DumpLimit = dump("--limit", "20", int(0), "Rows to print.")
  val DumpFormat = dump("--format", "table", oneOf(Seq("table", "json", "csv")), "Output format.")

  val CompactTargetRows = compact("--target-rows", "5000000", long(1), "Target rows per compacted segment.")
  val CompactClusterBy = compact("--cluster-by", "", text.optional, "Sort compacted rows by this column.")
  val CompactIncremental = compact("--incremental", "false", switch, "Merge only undersized segments.")
  val CompactMinFill = compact("--min-fill", "0.5", fraction, "Undersized: below this share of --target-rows.")
  val CompactOption = compact("--option", "", keyValue, "Druid write option (repeatable).")

  val SearchColumns = search("--columns", "", names.optional, "Columns to search (unset: all strings).")
  val SearchIgnoreCase = search("--ignore-case", "false", switch, "Case-insensitive match.")
  val SearchPrefix = search("--prefix", "false", switch, "Match value prefixes only.")

  val RetainKeepAfter = new Rows(CliFlag("retain"))("--keep-after", "", instant.optional,
    "Drop segments entirely before this time (required).")

  require(all.groupBy(s => (s.scope, s.name)).forall(_._2.size == 1),
    "a setting name repeats within one scope")

  /** Every row, in declaration order. */
  def rows: Seq[Setting[_]] = all.toSeq

  /** Keys Spark itself passes to a druid source or sink. */
  private val sparkKeys: Map[Scope, Set[String]] = Map(
    ReadOption -> Set("path"), WriteOption -> Set("path", "checkpointLocation"))

  /** Refuse an option key that is neither a row of `scope` nor a key
    * Spark passes: a misspelled option must not be silently ignored.
    */
  def refuseUnknown(scope: Scope, options: CaseInsensitiveStringMap): Unit = {
    val own = rows.filter(_.scope == scope).map(_.name)
    val known = (own ++ sparkKeys.getOrElse(scope, Set.empty)).map(_.toLowerCase).toSet
    options.asCaseSensitiveMap().keySet().asScala.toSeq.sorted
      .find(k => !known.contains(k.toLowerCase)).foreach { k =>
        throw new BadSetting(s"unknown ${scope.label} '$k' (known: ${own.mkString(", ")})")
      }
  }

  /** The `path` Spark passes to a druid source. */
  def sparkPath(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("path"))

  /** Parsed CLI flags of one command: (flag, raw value) in order. */
  final class Flags private[Settings] (values: Seq[(String, String)]) {
    def apply[T](s: Setting[T]): T = s.from(raw(s).lastOption)
    /** Every value of a repeatable flag, in order. */
    def all[T](s: Setting[T]): Seq[T] = raw(s).map(s.parse)
    private def raw(s: Setting[_]): Seq[String] = values.collect { case (s.name, v) => v }
  }

  /** Parse `args` against the flag rows of `command`; every value is
    * checked here, before the command does any work.
    */
  def flags(command: String, args: Seq[String]): Flags = {
    val known = rows.filter(_.scope == CliFlag(command)).map(s => s.name -> s).toMap
    def go(rest: List[String]): List[(String, String)] = rest match {
      case Nil => Nil
      case f :: tl =>
        val s = known.getOrElse(f, throw new BadSetting(
          s"unknown $command flag '$f' (known: ${known.keys.toSeq.sorted.mkString(", ")})"))
        if (s.isSwitch) (f, "true") :: go(tl)
        else tl match {
          case v :: t => s.parse(v); (f, v) :: go(t)
          case Nil => throw new BadSetting(s"$command flag $f: missing value")
        }
    }
    new Flags(go(args.toList))
  }

  /** Run a CLI main's body: a bad setting prints its message to stderr
    * and exits 2; every other failure propagates unchanged.
    */
  def exitOnBadSetting(body: => Unit): Unit =
    try body catch {
      case e: BadSetting =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
}
