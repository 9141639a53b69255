package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One op's output, reduced to a digest. `expect` is set when the
  * expected digest can only be known while the op runs (ingest, whose
  * table changes with every op).
  */
final case class Result(digest: String, expect: String = null)

trait BaseOp {
  /** Short name of the op's kind, for the run record. */
  def label: String = getClass.getSimpleName
}

/** A workload: staged inputs plus a fixed, seeded sequence of ops. */
abstract class Workload(val spark: SparkSession, val dir: String) {
  type Op <: BaseOp
  def name: String
  /** Ops per requested run second; fixes the op count of a run. */
  def opsPerSecond: Double
  /** Warm-up ops, drawn from another seed. */
  def warmup: Int
  /** Ops of a traced probe of this workload; every second one is traced. */
  def probeOps: Int = 2
  /** Replace op `i` of a sequence by a request the program must refuse,
    * for the self-check that a refused op fails the run.
    */
  def malformed(ops: IndexedSeq[Op], i: Int): IndexedSeq[Op] =
    throw new UnsupportedOperationException(s"$name has no malformed op")
  def setup(seed: Long): Unit
  def ops(seed: Long, n: Int): IndexedSeq[Op]
  /** The user-visible op; its wall time is the op's latency. */
  def run(op: Op, t: Trace): Result
  /** Background work due after op `i` (ingest's compaction). */
  def between(i: Int, t: Trace): Unit = ()
  /** Traced only: the same op split into calls of single layers. */
  def replay(op: Op, t: Trace): Unit
  /** Expected digests from an independent path, in op order. */
  def expected(ops: Seq[Op], results: Seq[Result]): Seq[String]
  def storedBytes: Long
  def userBytes: Long
  /** Bytes of segment files this workload created, compaction included. */
  def writtenBytes: Long = storedBytes
  def close(): Unit = ()
}

object Common {
  val mapper = new ObjectMapper()
  private object Aqe extends AdaptiveSparkPlanHelper

  def stage(df: DataFrame, path: String, options: Map[String, String]): String = {
    val t0 = System.nanoTime()
    options.foldLeft(df.write.format("druid").mode("overwrite")) {
      case (w, (k, v)) => w.option(k, v)
    }.save(path)
    System.err.println(f"[graftbench] staged ${Paths.get(path).getFileName} in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    path
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.format("druid").load(path)

  /** Order-independent digest of every column of every row. */
  def digestOf(df: DataFrame, cols: Seq[Column]): String = {
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(shiftrightunsigned(col("h"), 33))).head()
    digestText(r, 0)
  }

  def digestText(r: Row, at: Int): String = {
    def v(i: Int) = if (r.isNullAt(at + i)) 0L else r.getLong(at + i)
    s"${v(0)}|${v(1)}|${v(2)}"
  }

  /** Digests of many ops in one job: `tagged` carries an `op` column. */
  def digestsByOp(tagged: DataFrame, cols: Seq[Column], n: Int): Seq[String] = {
    val got = tagged.select(col("op"), xxhash64(cols: _*).as("h")).groupBy("op")
      .agg(count(lit(1)), bit_xor(col("h")), sum(shiftrightunsigned(col("h"), 33)))
      .collect().map(r => r.getInt(0) -> digestText(r, 1)).toMap
    (0 until n).map(i => got.getOrElse(i, "0|0|0"))
  }

  def sha(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Canonical text of a JSON response: keys sorted, numbers normalized,
    * rows of objects sorted, segment ids dropped.
    */
  def canon(n: JsonNode): String =
    if (n.isObject) n.fields().asScala.filterNot(_.getKey == "segmentId").toSeq
      .sortBy(_.getKey).map(e => "\"" + e.getKey + "\":" + canon(e.getValue))
      .mkString("{", ",", "}")
    else if (n.isArray) {
      val xs = n.elements().asScala.map(canon).toSeq
      (if (n.elements().asScala.forall(_.isObject)) xs.sorted else xs).mkString("[", ",", "]")
    } else if (n.isNumber) new java.math.BigDecimal(n.asText()).stripTrailingZeros.toPlainString
    else n.toString

  def liveBytes(root: String): Long =
    graft.sources.druid.SegmentCatalog.listLiveSegmentDirs(Paths.get(root))
      .map(treeBytes).sum

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Planning phases and scan counters of an executed DataFrame. */
  def planCounts(df: DataFrame, resultRows: Long, t: Trace): Unit = {
    val qe = df.queryExecution
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      t.count(s"plan.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val scans = Aqe.collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
    val rowsRead = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    t.count("scan.rows_read", rowsRead.toDouble)
    t.count("scan.input_partitions", scans.map(_.inputPartitions.size).sum.toDouble)
    if (resultRows > 0) t.count("scan.rows_per_result_row", rowsRead.toDouble / resultRows)
  }

  /** Force analysis, optimization and physical planning inside spans. */
  def planSpans(df: DataFrame, t: Trace): Unit = {
    t.span("plans.optimize")(df.queryExecution.optimizedPlan)
    t.span("plans.physical")(df.queryExecution.executedPlan)
  }

  def catalogCounts(root: String, t: Trace): Unit = {
    import graft.sources.druid.SegmentCatalog
    t.span("catalog.metafor")(SegmentCatalog.metaFor(root))
    t.count("catalog.metafor_ms", t.durations("catalog.metafor").last)
    t.count("catalog.live_segments",
      SegmentCatalog.listLiveSegmentDirs(Paths.get(root)).size.toDouble)
    t.count("catalog.log_entries", SegmentCatalog.logSize(root).toDouble)
  }

  def iso(sec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(sec))
  def sqlTs(sec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(sec))

  def monthStart(y: Int, m: Int): Long =
    java.time.LocalDate.of(y, 1, 1).plusMonths(m.toLong).toEpochDay * Data.Day
}

// ------------------------------------------------------------ broker

/** Druid-client traffic: HTTP POSTs to an in-process broker serving
  * segment tables. The expected answer is the same request sent to a
  * second broker that serves the unsegmented source frames.
  */
final class BrokerWorkload(spark: SparkSession, dir: String,
                           lineitemRows: Long, eventsRows: Long)
    extends Workload(spark, dir) {
  import Common._
  final case class Op(kind: Int, path: String, body: String) extends BaseOp {
    override def label: String = Seq("timeseries", "topN", "groupBy", "scan", "timeBoundary",
      "sql_lineitem", "sql_events")(kind)
  }
  val name = "broker_dashboard"
  val opsPerSecond = 3.5
  val warmup = 42
  override val probeOps = 14 // every kind traced once
  private var src: Map[String, DataFrame] = Map.empty
  private var seg: Map[String, DataFrame] = Map.empty
  private var server: com.sun.net.httpserver.HttpServer = null
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
  private var stored = 0L

  def setup(seed: Long): Unit = {
    src = Map(
      "lineitem" -> Data.lineitem(spark, seed, lineitemRows, 3),
      "events" -> Data.events(spark, seed, eventsRows, 3, withTags = false, withProps = false))
    val opts = Map("lineitem" -> "year", "events" -> "month")
    seg = src.map { case (n, df) =>
      n -> load(spark, stage(df, s"$dir/$n", Map("segmentGranularity" -> opts(n))))
    }
    stored = src.keys.map(n => liveBytes(s"$dir/$n")).sum
    server = graft.cli.DruidServe.start(spark, seg, 0, sqlTables = seg, threads = 2)
    seg.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    graft.sql.DruidSqlCompat.register(spark)
  }

  // every request executes: broker result caches off
  private val nativeCtx = """"context":{"useCache":false,"populateCache":false}"""
  private def sqlBody(sql: String): String = {
    val o = mapper.createObjectNode().put("query", sql)
    o.putObject("context").put("useResultLevelCache", false)
      .put("populateResultLevelCache", false)
    o.toString
  }

  def ops(seed: Long, n: Int): IndexedSeq[Op] = {
    val r = new java.util.Random(seed * 31 + 7)
    val kinds = 7
    val order = scala.util.Random.javaRandomToRandom(r).shuffle((0 until kinds).toVector)
    def pick(xs: Seq[String]) = xs(r.nextInt(xs.size))
    (0 until n).map { i =>
      val kind = order(i % kinds)
      // lineitem: one year from a month boundary; events: two weeks
      val m = r.nextInt(71)
      val (liLo, liHi) = (monthStart(1992, m), monthStart(1992, m + 12))
      val d = r.nextInt(Data.EventsDays - 14)
      val (evLo, evHi) = (Data.EventsStart + d * Data.Day, Data.EventsStart + (d + 14) * Data.Day)
      def iv(lo: Long, hi: Long) = s""""intervals":["${iso(lo)}/${iso(hi)}"]"""
      kind match {
        case 0 => Op(0, "/druid/v2", s"""{"queryType":"timeseries","dataSource":"lineitem",""" +
          s""""granularity":"month",${iv(liLo, liHi)},"filter":{"type":"selector",""" +
          s""""dimension":"l_returnflag","value":"${pick(Data.ReturnFlags)}"},""" +
          s""""aggregations":[{"type":"count","name":"n"},""" +
          s"""{"type":"doubleSum","name":"price","fieldName":"l_extendedprice"},""" +
          s"""{"type":"longSum","name":"parts","fieldName":"l_partkey"}],$nativeCtx}""")
        case 1 =>
          val lo = 1 + r.nextInt(3500)
          Op(1, "/druid/v2", s"""{"queryType":"topN","dataSource":"events",""" +
            s""""granularity":"all",${iv(evLo, evHi)},"dimension":"event_type",""" +
            s""""metric":"total","threshold":5,"filter":{"type":"bound","dimension":"user_id",""" +
            s""""lower":"$lo","upper":"${lo + 1500}","ordering":"numeric"},""" +
            s""""aggregations":[{"type":"doubleSum","name":"total","fieldName":"value"},""" +
            s"""{"type":"count","name":"n"}],$nativeCtx}""")
        case 2 =>
          val modes = scala.util.Random.javaRandomToRandom(r).shuffle(Data.ShipModes).take(3)
          Op(2, "/druid/v2", s"""{"queryType":"groupBy","dataSource":"lineitem",""" +
            s""""granularity":"all",${iv(liLo, liHi)},"dimensions":["l_shipmode","l_returnflag"],""" +
            s""""filter":{"type":"in","dimension":"l_shipmode","values":[""" +
            modes.map(x => "\"" + x + "\"").mkString(",") + "]}," +
            s""""aggregations":[{"type":"count","name":"n"},""" +
            s"""{"type":"doubleSum","name":"q","fieldName":"l_quantity"},""" +
            s"""{"type":"doubleMax","name":"mp","fieldName":"l_extendedprice"}],$nativeCtx}""")
        case 3 =>
          val lo = Data.EventsStart + r.nextInt((Data.EventsDays - 1) * 24) * 3600L
          Op(3, "/druid/v2", s"""{"queryType":"scan","dataSource":"events",""" +
            s"""${iv(lo, lo + 3 * 3600)},"columns":["__time","event_type","user_id","value"],""" +
            s""""filter":{"type":"selector","dimension":"event_type","value":"${pick(Data.EventTypes)}"},""" +
            s""""limit":100000,"resultFormat":"list",$nativeCtx}""")
        case 4 => Op(4, "/druid/v2", s"""{"queryType":"timeBoundary","dataSource":"events",""" +
          s""""filter":{"type":"and","fields":[{"type":"selector","dimension":"event_type",""" +
          s""""value":"${pick(Data.EventTypes)}"},{"type":"bound","dimension":"user_id",""" +
          s""""lower":"${1 + r.nextInt(4000)}","ordering":"numeric"}]},$nativeCtx}""")
        case 5 => Op(5, "/druid/v2/sql", sqlBody(
          "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q, " +
            s"SUM(l_extendedprice) AS p FROM lineitem WHERE __time >= TIMESTAMP '${sqlTs(liLo)}' " +
            s"AND __time < TIMESTAMP '${sqlTs(liHi)}' AND l_shipmode = '${pick(Data.ShipModes)}' " +
            "GROUP BY l_returnflag"))
        case _ =>
          val (lo, hi) = (evLo, evLo + 7 * Data.Day)
          Op(6, "/druid/v2/sql", sqlBody(
            "SELECT TIME_FLOOR(__time, 'P1D') AS d, event_type, COUNT(*) AS n, " +
              s"SUM(value) AS v FROM events WHERE __time >= TIMESTAMP '${sqlTs(lo)}' " +
              s"AND __time < TIMESTAMP '${sqlTs(hi)}' AND user_id <= ${500 + r.nextInt(4000)} " +
              "GROUP BY 1, 2"))
      }
    }
  }

  private def post(port: Int, op: Op): (Int, String) = {
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"http://127.0.0.1:$port${op.path}"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(op.body)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** A refused request is an error whatever the oracle says: the oracle
    * runs the same broker code and would refuse it too.
    */
  private def digest(code: Int, body: String): String =
    if (code != 200) s"error:http-$code:${body.take(200)}" else sha(canon(mapper.readTree(body)))

  override def malformed(ops: IndexedSeq[Op], i: Int): IndexedSeq[Op] =
    ops.updated(i, ops(i).copy(body = ops(i).body.replaceFirst(
      "\"dataSource\":\"[a-z]+\"", "\"dataSource\":\"no_such_table\"")
      .replaceFirst("FROM [a-z]+ ", "FROM no_such_table ")))

  def run(op: Op, t: Trace): Result = {
    val (code, body) = t.span("cli.request")(post(server.getAddress.getPort, op))
    t.count("cli.response_bytes", body.length.toDouble)
    Result(digest(code, body))
  }

  def replay(op: Op, t: Trace): Unit = {
    val node = mapper.readTree(op.body)
    val df = t.span("direct") {
      val df =
        if (op.path == "/druid/v2") t.span("query.compile")(graft.query.NativeQuery.run(op.body, seg))
        else t.span("sql.analyze")(spark.sql(node.path("query").asText()))
      planSpans(df, t)
      df
    }
    val rows = t.span("exec.collect")(df.collect().length)
    val direct = t.durations("direct").last + t.durations("exec.collect").last
    t.count("cli.overhead_ms", t.durations("cli.request").last - direct)
    t.count(if (op.path == "/druid/v2") "query.compile_ms" else "sql.analyze_ms",
      t.durations(if (op.path == "/druid/v2") "query.compile" else "sql.analyze").last)
    planCounts(df, rows, t)
    val table = node.path("dataSource").asText(if (op.kind == 5) "lineitem" else "events")
    catalogCounts(s"$dir/$table", t)
  }

  def expected(ops: Seq[Op], results: Seq[Result]): Seq[String] = {
    val cached = src.map { case (n, df) => n -> df.cache() }
    cached.values.foreach(_.count())
    val oracle = graft.cli.DruidServe.start(spark, cached, 0, sqlTables = cached, threads = 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try ops.map { op =>
      pool.submit(() => { val (c, b) = post(oracle.getAddress.getPort, op); digest(c, b) })
    }.map(_.get())
    finally { pool.shutdown(); oracle.stop(0); cached.values.foreach(_.unpersist()) }
  }

  def storedBytes: Long = stored
  lazy val userBytes: Long = src.values.map(Data.rawBytes).sum
  override def close(): Unit = if (server != null) server.stop(0)
}

// ------------------------------------------------------------ ingest

/** Small appends through the connector, each followed by a filtered
  * aggregate read of the same table; incremental compaction runs inline
  * on a fixed append cadence. Expected read answers come from running
  * totals kept in the client over the generated rows.
  */
final class IngestWorkload(spark: SparkSession, dir: String, baseRows: Int,
                           batchRows: Int, compactEvery: Int)
    extends Workload(spark, dir) {
  import Common._
  final case class Op(batch: IndexedSeq[Row], flag: String) extends BaseOp
  val name = "ingest_compact"
  val opsPerSecond = 5.0
  def warmup: Int = 3 * compactEvery
  // one compaction cycle; the compaction after the last op is traced
  override def probeOps: Int = compactEvery
  val root = s"$dir/ingest"
  private val schema = StructType(Seq(
    StructField("__time", TimestampType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_shipmode", StringType)))
  // (flag, shipmode) -> (rows, sum quantity, sum price)
  private val totals = scala.collection.mutable.Map[(String, String), (Long, Double, Double)]()
  private var user = 0L
  private var appended = 0
  private var bytesWritten = 0L

  private def rowsOf(rnd: java.util.SplittableRandom, n: Int): IndexedSeq[Row] =
    (0 until n).map { _ =>
      Row(new java.sql.Timestamp((883612800L + rnd.nextLong(365 * Data.Day)) * 1000L),
        rnd.nextLong(6000000L) + 1, rnd.nextLong(20000L) + 1,
        (rnd.nextInt(50) + 1).toDouble, (rnd.nextInt(400000) + 3600) * 0.25,
        Data.ReturnFlags(rnd.nextInt(3)), Data.ShipModes(rnd.nextInt(7)))
    }

  private def account(rows: Seq[Row]): Unit = rows.foreach { r =>
    val k = (r.getString(5), r.getString(6))
    val (n, q, p) = totals.getOrElse(k, (0L, 0.0, 0.0))
    totals(k) = (n + 1, q + r.getDouble(3), p + r.getDouble(4))
    user += 8L * 5 + r.getString(5).length + r.getString(6).length
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  def setup(seed: Long): Unit = {
    val base = rowsOf(new java.util.SplittableRandom(seed), baseRows)
    stage(frame(base), root, Map.empty)
    account(base)
    bytesWritten = liveBytes(root)
  }

  def ops(seed: Long, n: Int): IndexedSeq[Op] = {
    val r = new java.util.SplittableRandom(seed * 977 + 11)
    (0 until n).map(_ => Op(rowsOf(r.split(), batchRows), Data.ReturnFlags(r.nextInt(3))))
  }

  private def read(flag: String): DataFrame =
    load(spark, root).where(col("l_returnflag") === flag).groupBy("l_shipmode")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"), sum("l_extendedprice").as("p"))

  private def show(rows: Seq[(String, Long, Double, Double)]): String =
    rows.sortBy(_._1).map { case (m, n, q, p) => s"$m:$n:$q:$p" }.mkString(";")

  def run(op: Op, t: Trace): Result = {
    val before = live.toSet
    t.span("write.append")(frame(op.batch).write.format("druid").mode("append").save(root))
    val got = t.span("sources.read")(read(op.flag).collect()).map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // listing and running totals are O(segments + batch) client work,
    // well under a millisecond next to the two Spark jobs
    val added = live.filterNot(before)
    bytesWritten += added.map(treeBytes).sum
    t.count("write.segments_per_append", added.size.toDouble)
    account(op.batch)
    appended += 1
    val expect = totals.collect { case ((f, m), (n, q, p)) if f == op.flag => (m, n, q, p) }.toSeq
    Result(show(got.toSeq), show(expect))
  }

  private def live: Seq[Path] =
    graft.sources.druid.SegmentCatalog.listLiveSegmentDirs(Paths.get(root))

  override def between(i: Int, t: Trace): Unit =
    if (appended % compactEvery == 0) {
      val before = live.toSet
      val st = t.span("compact.run")(graft.write.Compaction
        .compactIncremental(spark, root, compactEvery.toLong * batchRows * 2))
      val rewritten = live.filterNot(before).map(treeBytes).sum
      bytesWritten += rewritten
      t.count("compact.ms", t.durations("compact.run").lastOption.getOrElse(0.0))
      t.count("compact.bytes_rewritten", rewritten.toDouble)
      t.count("compact.segments_in", st.segmentsBefore.toDouble)
      t.count("compact.segments_out", st.segmentsAfter.toDouble)
    }

  def replay(op: Op, t: Trace): Unit = {
    val df = read(op.flag)
    t.span("direct") {
      planSpans(df, t)
    }
    val rows = t.span("exec.collect")(df.collect().length)
    planCounts(df, rows, t)
    catalogCounts(root, t)
    // the append's arrays through the segment writer alone
    import graft.write.SegmentWriter._
    val b = op.batch
    val scratch = Files.createTempDirectory(Paths.get(dir), "encode")
    t.span("write.encode")(graft.write.SegmentWriter.write(scratch,
      b.map(_.getTimestamp(0).getTime).toArray,
      Seq("l_orderkey" -> LongValues(b.map(_.getLong(1)).toArray),
        "l_partkey" -> LongValues(b.map(_.getLong(2)).toArray),
        "l_quantity" -> DoubleValues(b.map(_.getDouble(3)).toArray),
        "l_extendedprice" -> DoubleValues(b.map(_.getDouble(4)).toArray),
        "l_returnflag" -> StringValues(b.map(_.getString(5)).toArray),
        "l_shipmode" -> StringValues(b.map(_.getString(6)).toArray))))
    t.count("write.encode_ms", t.durations("write.encode").last)
    val s = Files.walk(scratch)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally s.close()
  }

  def expected(ops: Seq[Op], results: Seq[Result]): Seq[String] = results.map(_.expect)
  def storedBytes: Long = liveBytes(root)
  def userBytes: Long = user
  override def writtenBytes: Long = bytesWritten
}

// ---------------------------------------------------------- pipeline

/** MinHash-LSH near-dup jobs over seeded document windows read from a
  * segment table. The expected answer is the same public call chain
  * over the unsegmented source frame.
  */
final class PipelineWorkload(spark: SparkSession, dir: String, docCount: Int, window: Int)
    extends Workload(spark, dir) {
  import Common._
  import graft.pipeline.{Components, TextOps}
  final case class Op(lo: Long) extends BaseOp
  val name = "pipeline_dedup"
  val opsPerSecond = 1.5
  val warmup = 15
  val root = s"$dir/docs"
  private var src: DataFrame = null
  private var stored = 0L

  def setup(seed: Long): Unit = {
    src = Data.docsFrame(spark, Data.documents(seed, docCount), 3)
    stage(src, root, Map.empty)
    stored = liveBytes(root)
  }

  def ops(seed: Long, n: Int): IndexedSeq[Op] = {
    val r = new java.util.Random(seed * 17 + 5)
    (0 until n).map(_ => Op(1L + r.nextInt(docCount - window + 1)))
  }

  private def docs(df: DataFrame, op: Op): DataFrame =
    df.where(col("__time") >= timestamp_seconds(lit(op.lo)) &&
      col("__time") < timestamp_seconds(lit(op.lo + window)))

  private def candidates(d: DataFrame): DataFrame =
    TextOps.lshCandidates(TextOps.bandSignaturesDirect(d, 16, 4), Some(64))
  private def verified(d: DataFrame, cand: DataFrame): DataFrame =
    TextOps.exactJaccardDirect(d, cand).where(col("jaccard") >= 0.5).select("d1", "d2")

  private def job(d: DataFrame): String = {
    val comps = Components.connectedComponents(verified(d, candidates(d)))
    digestOf(comps, Seq(col("doc_id"), col("component")))
  }

  private def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def run(op: Op, t: Trace): Result = {
    val d = docs(load(spark, root), op)
    try Result(job(d)) finally release()
  }

  def replay(op: Op, t: Trace): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val raw = docs(load(spark, root), op)
    t.span("exec.collect")(raw.collect())
    planCounts(raw, window.toLong, t)
    catalogCounts(root, t)
    // each step reads its input from the cache of the step before
    val d = docs(load(spark, root), op).cache()
    try {
      noop(d)
      val bands = TextOps.bandSignaturesDirect(d, 16, 4).cache()
      t.span("pipeline.bands")(noop(bands))
      val cand = TextOps.lshCandidates(bands, Some(64)).cache()
      t.span("pipeline.candidates")(noop(cand))
      val ver = verified(d, cand).cache()
      t.span("pipeline.verify")(noop(ver))
      t.span("pipeline.components")(noop(Components.connectedComponents(ver)))
      val (nc, nv) = (cand.count().toDouble, ver.count().toDouble)
      t.count("pipeline.candidate_pairs", nc)
      t.count("pipeline.verified_pairs", nv)
      if (nc > 0) t.count("pipeline.candidate_precision", nv / nc)
      Seq("bands", "candidates", "verify", "components").foreach(s =>
        t.count(s"pipeline.${s}_ms", t.durations(s"pipeline.$s").last))
    } finally release()
  }

  /** All ops in one chain of the same public calls over the source
    * frame: doc ids and bands are offset per op, so documents of
    * different ops never share a bucket, a pair or a component.
    */
  def expected(ops: Seq[Op], results: Seq[Result]): Seq[String] = {
    val off = 1000000000L
    val tagged = ops.zipWithIndex.map { case (op, i) =>
      docs(src, op).withColumn("doc_id", col("doc_id") + i * off)
    }.reduce(_ union _)
    val bands = TextOps.bandSignaturesDirect(tagged, 16, 4)
      .withColumn("band", col("band") + (col("doc_id") / off).cast("long") * 1000)
    val comps = Components.connectedComponents(
      verified(tagged, TextOps.lshCandidates(bands, Some(64))))
    val opId = (col("doc_id") / off).cast("long")
    try digestsByOp(comps.withColumn("op", opId.cast("int")),
      Seq(col("doc_id") - opId * off, col("component") - opId * off), ops.size)
    finally release()
  }

  def storedBytes: Long = stored
  lazy val userBytes: Long = Data.rawBytes(src)
}
