package graft.cli

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** INFORMATION_SCHEMA's views live in the catalog every session of the
  * Spark context shares, so two brokers serving different tables take
  * turns writing them: each must answer with its own tables, however
  * often the other broker wrote the views in between.
  */
class InformationSchemaSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def tableNames(port: Int): Seq[String] = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/druid/v2/sql"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"query": "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES ORDER BY TABLE_NAME"}"""))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    val rows = mapper.readTree(resp.body())
    (0 until rows.size).map(i => rows.get(i).path("TABLE_NAME").asText())
  }

  test("two brokers on one session each list their own tables") {
    def table(n: Int): DataFrame = spark.range(n).toDF("id")
    def serve(tables: Map[String, DataFrame]) =
      DruidServe.start(spark, tables, port = 0, sqlTables = tables, threads = 1)
    val a = serve(Map("is_a1" -> table(1), "is_a2" -> table(2)))
    val b = serve(Map("is_b" -> table(3)))
    try {
      val (pa, pb) = (a.getAddress.getPort, b.getAddress.getPort)
      assert(tableNames(pa) == Seq("is_a1", "is_a2"))
      assert(tableNames(pb) == Seq("is_b"))
      assert(tableNames(pa) == Seq("is_a1", "is_a2"))
      assert(tableNames(pb) == Seq("is_b"))
    } finally { a.stop(0); b.stop(0) }
  }
}
