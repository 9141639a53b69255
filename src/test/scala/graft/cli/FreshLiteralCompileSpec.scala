package graft.cli

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A dashboard sends one query shape with a fresh interval or bound on
  * every request. Once the shape has run, a fresh numeric or time
  * literal over a druid table must not compile a new class: the
  * literals reach generated code through graft.plans.BoundLiterals.
  * Spark's compile cache is keyed by generated source, so a literal
  * inlined into that source would compile every stage again.
  */
class FreshLiteralCompileSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  // 72 hourly rows from 2024-01-01, one segment per day
  private lazy val events: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-freshlit").toString
    spark.range(72).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("__time"),
      when(col("id") % 3 === 0, "view").otherwise("click").as("event_type"),
      (col("id") % 40).as("user_id"),
      (col("id") * 1.5).as("value"))
      .coalesce(1).write.format("druid").option("segmentGranularity", "day")
      .mode("overwrite").save(dir)
    spark.read.format("druid").load(dir)
  }

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, json: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    resp.body()
  }

  private val noCache = """"context":{"useCache":false,"populateCache":false}"""

  private def timeseries(from: String, to: String) =
    s"""{"queryType":"timeseries","dataSource":"events","granularity":"day",
       |"intervals":["$from/$to"],
       |"aggregations":[{"type":"count","name":"n"},
       |{"type":"doubleSum","name":"v","fieldName":"value"}],$noCache}""".stripMargin

  private def bound(lo: Int, hi: Int) =
    s"""{"queryType":"timeseries","dataSource":"events","granularity":"all",
       |"intervals":["2024-01-01/2024-01-04"],
       |"filter":{"type":"bound","dimension":"user_id","lower":"$lo",
       |"upper":"$hi","ordering":"numeric"},
       |"aggregations":[{"type":"count","name":"n"}],$noCache}""".stripMargin

  private def sql(from: String, to: String) =
    s"""{"query":"SELECT event_type, COUNT(*) AS n FROM events WHERE
       |__time >= TIMESTAMP '$from' AND __time < TIMESTAMP '$to'
       |GROUP BY event_type","context":{"useResultLevelCache":false,
       |"populateResultLevelCache":false}}""".stripMargin.replace("\n", " ")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("fresh numeric and time literals over a druid table compile no class") {
    val server = DruidServe.start(spark, Map("events" -> events), port = 0,
      sqlTables = Map("events" -> events), threads = 2)
    try {
      val port = server.getAddress.getPort
      def where(lo: Long, from: String) = events
        .where(col("user_id") > lo && col("__time") >= to_timestamp(lit(from)))
        .groupBy(col("event_type")).agg(sum(col("value"))).collect()
      // the warm round compiles each shape once
      post(port, "/druid/v2", timeseries("2024-01-01T00:00:00Z", "2024-01-03T00:00:00Z"))
      post(port, "/druid/v2", bound(3, 20))
      post(port, "/druid/v2/sql", sql("2024-01-01 00:00:00", "2024-01-02 00:00:00"))
      where(5L, "2024-01-01 06:00:00")
      val before = compiles
      val ts = post(port, "/druid/v2",
        timeseries("2024-01-01T07:00:00Z", "2024-01-02T13:00:00Z"))
      val b = post(port, "/druid/v2", bound(7, 31))
      val s = post(port, "/druid/v2/sql", sql("2024-01-02 05:00:00", "2024-01-03 17:00:00"))
      val w = where(17L, "2024-01-02 02:00:00")
      assert(compiles - before == 0,
        "fresh literals compiled new classes")
      // and the fresh requests answered for their own literals
      assert(ts.contains("2024-01-01T00:00:00") && ts.contains("\"n\":17"), ts)
      val inBound = (0 until 72).count(i => i % 40 >= 7 && i % 40 <= 31)
      assert(b.contains(s"\"n\":$inBound"), b)
      assert(s.contains("\"n\""), s)
      assert(w.map(_.getString(0)).toSet == Set("click", "view"))
    } finally server.stop(0)
  }
}
