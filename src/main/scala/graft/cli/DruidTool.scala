package graft.cli

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.SparkSession

import graft.Settings
import graft.format.DruidSegment

/** CLI mirroring the reference's four subcommands
  * (reference src/main.rs:22-67): info / files / dump / query, plus
  * Spark-backed sinks (the reference prints to stdout only).
  *
  * Usage (via sbt or spark-submit):
  *   graft.cli.DruidTool info  <segmentDir>
  *   graft.cli.DruidTool files <segmentDir>
  *   graft.cli.DruidTool dump  <segmentDir> [--columns a,b] [--limit N] [--format table|json|csv]
  *   graft.cli.DruidTool query <segmentDir> <sql>   (table registered as `segment`)
  */
object DruidTool {

  private def fmtMillis(ms: Long): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(ZoneOffset.UTC).format(Instant.ofEpochMilli(ms))

  /** The CLIs' local session (`getOrCreate`: a live one is reused). */
  private[cli] def session(app: String): SparkSession = SparkSession.builder()
    .master(Settings.SparkMaster.get).appName(app)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `f` with a SparkSession; stops it only if this call created it
    * (embedding callers — tests, notebooks — keep their session alive).
    */
  private def withSpark[T](f: SparkSession => T): T = {
    val existing = SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
    val s = existing.getOrElse {
      val created = session("druid-tool")
      created.sparkContext.setLogLevel("ERROR")
      created
    }
    try f(s) finally if (existing.isEmpty) s.stop()
  }

  def main(args: Array[String]): Unit = Settings.exitOnBadSetting(run(args))

  /** [[main]] without the exit: a bad usage or flag throws
    * [[Settings.BadSetting]] naming it, before any work starts.
    */
  def run(args: Array[String]): Unit = args.toList match {
    case "info" :: dir :: Nil => info(dir)
    case "files" :: dir :: Nil => files(dir)
    case "dump" :: dir :: rest => dump(dir, rest)
    case "query" :: dir :: sql :: Nil => query(dir, sql)
    case "compact" :: dir :: rest => compact(dir, rest)
    case "search" :: dir :: needle :: rest => search(dir, needle, rest)
    case "validate" :: dir :: Nil => validate(dir)
    case "retain" :: dir :: rest =>
      val ms = Settings.flags("retain", rest)(Settings.RetainKeepAfter)
        .getOrElse(throw new Settings.BadSetting("retain needs --keep-after"))
      val st = graft.write.Retention.dropOlderThan(dir, ms)
      println(s"dropped ${st.segmentsDropped} segments " +
        s"(${st.rowsDropped} rows), kept ${st.segmentsKept}")
    case "serve" :: rest => DruidServe.run(rest.toArray)
    case _ => throw new Settings.BadSetting(
      "usage: druid-tool (info|files|dump|query|compact|search|validate|retain|serve) <segmentDir> [args]")
  }

  /** Deep integrity check: a single segment dir, or every segment of a
    * table dir (+ manifest row counts). Exits 1 when issues are found.
    */
  private def validate(dir: String): Unit = {
    val results =
      if (DruidSegment.isSegmentDir(java.nio.file.Paths.get(dir)))
        Seq(dir -> graft.format.SegmentValidator.validate(dir))
      else graft.format.SegmentValidator.validateTable(dir)
    var bad = 0
    results.foreach { case (seg, issues) =>
      if (issues.isEmpty) println(s"OK    $seg")
      else {
        bad += 1
        println(s"BAD   $seg")
        issues.foreach(i => println(s"      $i"))
      }
    }
    println(s"${results.size - bad} ok, $bad bad")
    if (bad > 0) sys.exit(1)
  }

  /** Interval, schema, dimensions, row count — reference cmd_info
    * (src/main.rs:97-120), but row count comes from the column header
    * instead of a full decode. On a TABLE directory (not a single
    * segment) it prints the manifest-level summary instead: segment
    * count, total rows, interval span, union schema — all without
    * opening a segment when the manifest is valid.
    */
  def info(dir: String): Unit = {
    if (!DruidSegment.isSegmentDir(java.nio.file.Paths.get(dir))) {
      val metas = graft.sources.druid.SegmentCatalog.metaFor(dir)
      println(s"Table: $dir")
      println(s"Segments: ${metas.size}")
      println(s"Rows: ${metas.map(_.rows.toLong).sum}")
      if (metas.nonEmpty)
        println(s"Interval: ${fmtMillis(metas.map(_.startMs).min)} .. " +
          fmtMillis(metas.map(_.endMs).max))
      val schema = graft.sources.druid.DruidTableUtil.schemaFor(dir)
      println("Columns:")
      schema.fields.foreach(f =>
        println(f"  ${f.name}%-24s ${f.dataType.sql}"))
      val zoned = metas.flatMap(_.zones.keys).distinct.sorted
      if (zoned.nonEmpty) println(s"Zoned columns: ${zoned.mkString(", ")}")
      println(s"TimeSorted: ${metas.nonEmpty && metas.forall(_.timeSorted)}")
      val dayAligned = metas.nonEmpty && metas.forall(m =>
        m.exactInterval &&
          m.endMs <= (Math.floorDiv(m.startMs, 86400000L) + 1) * 86400000L)
      // day-aligned tables joined through GraftCatalog get
      // storage-partitioned (zero-exchange) __time joins
      println(s"DayAligned: $dayAligned")
      return
    }
    val seg = DruidSegment.open(dir)
    println(s"Segment: $dir")
    println(s"Interval: ${fmtMillis(seg.metadata.intervalStartMs)} .. " +
      fmtMillis(seg.metadata.intervalEndMs))
    println(s"Rows: ${seg.numRows}")
    println("Columns:")
    seg.columnNames.foreach { name =>
      val (desc, _, _) = seg.columnHeader(name)
      val vt = if (name == "__time") "TIMESTAMP" else desc.valueType
      println(f"  $name%-24s $vt%-10s parts=${desc.partTypes.mkString(",")}")
    }
    println(s"Dimensions: ${seg.metadata.dimensions.mkString(", ")}")
    seg.metadataDrd.foreach { m =>
      println(s"Rollup: ${m.rollup}")
      println(s"QueryGranularity: ${m.queryGranularity}")
      if (m.aggregators.nonEmpty)
        println(s"Aggregators: ${m.aggregators.mkString(", ")}")
    }
  }

  /** Smoosh entry listing — reference cmd_files (src/main.rs:122-140). */
  def files(dir: String): Unit = {
    val seg = DruidSegment.open(dir)
    println(f"${"name"}%-24s ${"chunk"}%5s ${"start"}%10s ${"end"}%10s ${"size"}%10s")
    seg.smoosh.entries.values.foreach { e =>
      println(f"${e.name}%-24s ${e.chunk}%5d ${e.start}%10d ${e.end}%10d ${e.size}%10d")
    }
  }

  /** Projected, limited dump in table/json/csv — reference cmd_dump
    * (src/main.rs:142-184) with pushdown instead of post-slice.
    */
  def dump(dir: String, rest: List[String]): Unit = {
    val flags = Settings.flags("dump", rest)
    val limit = flags(Settings.DumpLimit)
    withSpark { spark =>
      var df = spark.read.format("druid").load(dir)
      flags(Settings.DumpColumns).foreach(cs =>
        df = df.select(cs.map(org.apache.spark.sql.functions.col): _*))
      df = df.limit(limit)
      flags(Settings.DumpFormat) match {
        case "table" => df.show(limit, truncate = false)
        case "json" => df.toJSON.collect().foreach(println)
        case _ => // csv
          println(df.columns.mkString(","))
          df.collect().foreach(r => println(r.toSeq.mkString(",")))
      }
    }
  }

  /** Arbitrary SQL with the segment registered as `segment` — reference
    * cmd_query (src/main.rs:186-195), running on Spark instead of
    * DataFusion.
    */
  def query(dir: String, sql: String): Unit = withSpark { spark =>
    spark.read.format("druid").load(dir).createOrReplaceTempView("segment")
    spark.sql(sql).show(1000, truncate = false)
  }

  /** Merge many small segments into ~target-row segments (maintenance
    * for streaming-ingested tables; no reference counterpart — the
    * reference is read-only).
    */
  def compact(dir: String, rest: List[String]): Unit = {
    val flags = Settings.flags("compact", rest)
    val targetRows = flags(Settings.CompactTargetRows)
    val opts = flags.all(Settings.CompactOption).toMap
    val clusterBy = flags(Settings.CompactClusterBy)
    withSpark { spark =>
      val st =
        if (flags(Settings.CompactIncremental))
          graft.write.Compaction.compactIncremental(spark, dir, targetRows,
            opts, clusterBy, flags(Settings.CompactMinFill))
        else
          graft.write.Compaction.compact(spark, dir, targetRows, opts,
            clusterBy)
      println(s"compacted ${st.rows} rows: " +
        s"${st.segmentsBefore} -> ${st.segmentsAfter} segments")
    }
  }

  /** Druid SearchQuery: matching dimension values + exact row counts,
    * answered from dictionaries/bitmaps only (DruidSearch). Columns
    * default to every string column in the table schema.
    */
  def search(dir: String, needle: String, rest: List[String]): Unit = {
    val flags = Settings.flags("search", rest)
    withSpark { spark =>
      val cols = flags(Settings.SearchColumns).getOrElse {
        graft.sources.druid.DruidTableUtil.schemaFor(dir).fields
          .filter(_.dataType == org.apache.spark.sql.types.StringType)
          .map(_.name).toSeq
      }
      graft.sources.druid.DruidSearch
        .search(spark, dir, cols, needle,
          caseSensitive = !flags(Settings.SearchIgnoreCase),
          prefix = flags(Settings.SearchPrefix))
        .orderBy("dim", "value")
        .show(1000, truncate = false)
    }
  }
}
