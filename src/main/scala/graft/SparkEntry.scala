package graft

import java.util.concurrent.Executors

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract (SURVEY.md §7), and the registry's one runner:
  * `Bench` and `Verify` share its session, selection rule, staging step
  * and query step, so Bench times the same DataFrame Verify writes for
  * the oracle.
  */
object SparkEntry {

  private def sets: Seq[QuerySet] =
    Seq(Relational, DruidQueries, PipelineQueries, StreamingQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Round-trips lineitem through the segment writer + DSv2 connector.
    */
  def entry(spark: SparkSession): DataFrame =
    DruidQueries.queries("dr3_lineitem_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sets.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    sets.flatMap(_.oracles).toMap

  /** The session both mains run in. The one difference: Verify turns
    * AQE off, because AQE can re-coalesce the final sort's partitions
    * and `orderBy(...).coalesce(1)` would then lose the global row order
    * the oracle compare reads. Bench keeps AQE on, as a deployment would.
    */
  def session(verify: Boolean): SparkSession = {
    val cpus = Settings.Cpus.get.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", (!verify).toString)
      // untruncated explain metadata: the plan fingerprint must hash the
      // WHOLE filter list, not a string cut at a length that moves with
      // expression-id digit counts (the instability found when this landed)
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries to run, by name: `SPARK_GRAFT_ONLY`'s, or all. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = Settings.Only.get
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** Staging jobs that run at once: the per-table writes are small, so
    * one job alone leaves most cores idle.
    */
  private val StagingWidth = 8

  /** Write every staged input of each set that holds one of `names`
    * over `dir`, ahead of the queries, so a query's time is its own
    * and not the writer's. A failed job prints one stderr line and the
    * rest go on; the query that reads its input stages it again and
    * fails visibly.
    */
  def stage(spark: SparkSession, dir: String, names: Set[String]): Unit = {
    val jobs = sets.filter(_.all.exists(q => names(q.name))).flatMap(_.staging)
    val pool = Executors.newFixedThreadPool(StagingWidth)
    try jobs.map { job =>
      pool.submit(new Runnable {
        def run(): Unit =
          try { job.run(spark, dir); () }
          catch { case e: Throwable =>
            System.err.println(s"[stage] ${job.name} failed: $e") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Bench's query step: run `df` to completion into Spark's noop sink.
    * It computes every row and column Verify writes, minus the file.
    */
  def timedWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Verify's query step: `df` as one ordered parquet file at `path`. */
  def oracleWrite(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** A JSON string literal: backslash, quote and every control char
    * escaped — a tab or CR in a query, path or error would otherwise
    * break the reader's json.load.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
