package graft.queries

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

trait QuerySet {
  def all: Seq[Q]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> (q.build _)).toMap
  final def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
