package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.GraftExtensions

/** One named engine capability: a Spark-first builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. Column names/aliases MUST match between
  * the two — the driver's compare sorts columns by name before hashing.
  */
final case class Q(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {
  /** Build the query on `s`, which first gets graft's SQL functions:
    * any single query may run in a fresh session.
    */
  def build(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.install(s)
    body(s, dir)
  }
}

/** A named job that writes one staged input for a scale dir. */
final case class StageJob(name: String, run: (SparkSession, String) => Any)

trait QuerySet {
  def all: Seq[Q]
  /** Every staged input this set's queries read, so the runner can
    * write them ahead of any query (`RegistryRunnerSpec` finds a
    * missing one).
    */
  def staging: Seq[StageJob]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> (q.build _)).toMap
  final def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

/** The one memo of staged inputs: each is built once per JVM under its
  * own key (the path it writes), behind a per-key lock, so distinct
  * inputs stage concurrently and one input never writes twice. A build
  * that throws records nothing; the next caller builds again.
  */
object Staging {
  private val built = new ConcurrentHashMap[String, Any]()
  private val locks = new ConcurrentHashMap[String, Object]()

  def once[T](key: String)(build: => T): T = {
    def hit = Option(built.get(key)).map(_.asInstanceOf[T])
    hit.getOrElse(locks.computeIfAbsent(key, _ => new Object).synchronized {
      hit.getOrElse { val v = build; built.put(key, v); v }
    })
  }

  /** The keys built so far. */
  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.keySet.asScala.toSet
  }
}
