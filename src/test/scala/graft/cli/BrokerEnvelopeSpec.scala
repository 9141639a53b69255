package graft.cli

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The broker's failure contract, one row per endpoint: every serve
  * context answers a failing request with a fixed status code and one
  * of three error bodies — Druid's query envelope (`error`,
  * `errorMessage`, `errorClass`), the statements API's
  * `druidException` (`error`, `errorMessage`) or the coordinator's
  * bare `{"error": msg}`. Native and SQL failures also carry
  * `X-Druid-Query-Id`.
  */
class BrokerEnvelopeSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  private lazy val events: DataFrame = {
    import spark.implicits._
    Seq(
      ("2024-01-01 01:00:00", "click", 1L, 10.0),
      ("2024-01-01 22:00:00", "view", 2L, 20.0),
      ("2024-01-02 01:00:00", "click", 3L, 30.0),
      ("2024-01-02 12:00:00", "click", 1L, 40.0),
      ("2024-01-03 01:00:00", "view", 2L, 50.0))
      .toDF("t", "event_type", "user_id", "value")
      .select(to_timestamp(col("t")).as("__time"), col("event_type"),
              col("user_id"), col("value"))
  }

  /** Two rows in two partitions, each sleeping ~1.5 s: the query a
    * timeout or a DELETE interrupts.
    */
  private def slowFrame: DataFrame = {
    val sleep = udf { (ms: Long) => Thread.sleep(ms); ms }
    spark.range(2).select(sleep(lit(1500L)).as("slept"))
  }

  /** A broker capped at two result rows, with an ingest root (so the
    * coordinator and rules endpoints are writable) and a resolver that
    * fails on any unknown datasource.
    */
  private def withBroker[A](body: Int => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft-envelope")
    val server = DruidServe.start(spark,
      name => if (name == "events") events
        else throw new IllegalArgumentException(s"unknown dataSource '$name'"),
      port = 0, sqlTables = Map("events" -> events, "slow" -> slowFrame),
      maxResultRows = 2, threads = 4, ingestRoot = Some(root.toString))
    try body(server.getAddress.getPort) finally server.stop(0)
  }

  private final case class Answer(status: Int, body: String,
                                  headers: java.net.http.HttpHeaders) {
    def header(name: String): Option[String] = {
      val v = headers.firstValue(name)
      if (v.isPresent) Some(v.get) else None
    }
    def fieldNames: Seq[String] =
      mapper.readTree(body).fieldNames().asScala.toSeq
  }

  private def request(port: Int, method: String, path: String,
                      body: String = "", timeoutS: Long = 30): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .timeout(Duration.ofSeconds(timeoutS))
    (method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m        => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
  }

  private def send(port: Int, method: String, path: String,
                   body: String = ""): Answer = {
    val r = client.send(request(port, method, path, body),
      HttpResponse.BodyHandlers.ofString())
    Answer(r.statusCode(), r.body(), r.headers())
  }

  private val queryShape = Seq("error", "errorMessage", "errorClass")
  private val statementShape = Seq("error", "errorMessage")
  private val coordinatorShape = Seq("error")

  /** One failing request and the answer it must get. */
  private final case class Case(method: String, path: String, body: String,
                                status: Int, fields: Seq[String],
                                error: Option[String] = None,
                                queryId: Option[String] = None)

  private val notSupported = Some("Query not supported")
  private val resourceLimit = Some("Resource limit exceeded")
  private val druidException = Some("druidException")

  /** Every context but /status, which answers any method. */
  private val cases: Seq[Case] = Seq(
    // /druid/v2 (native)
    Case("GET", "/druid/v2", "", 405, coordinatorShape),
    Case("POST", "/druid/v2", "{", 400, queryShape, notSupported),
    Case("POST", "/druid/v2",
      """{"queryType": "timeseries", "dataSource": "nope", "granularity": "all",
          "aggregations": [{"type": "count", "name": "n"}],
          "context": {"queryId": "env-native-missing"}}""",
      400, queryShape, notSupported, Some("env-native-missing")),
    Case("POST", "/druid/v2",
      """{"queryType": "scan", "dataSource": "events",
          "context": {"queryId": "env-native-cap"}}""",
      400, queryShape, resourceLimit, Some("env-native-cap")),
    // /druid/v2/sql (sync SQL)
    Case("GET", "/druid/v2/sql", "", 405, coordinatorShape),
    Case("DELETE", "/druid/v2/sql/a/b", "", 405, coordinatorShape),
    Case("POST", "/druid/v2/sql", """{"query": ""}""", 400, queryShape,
      notSupported),
    Case("POST", "/druid/v2/sql",
      """{"query": "SELECT * FROM nope", "context": {"sqlQueryId": "env-sql-missing"}}""",
      400, queryShape, notSupported, Some("env-sql-missing")),
    Case("POST", "/druid/v2/sql",
      """{"query": "SELECT 1", "context": {"sqlQueryId": "env-sql-ctx", "bogusKey": 1}}""",
      400, queryShape, notSupported, Some("env-sql-ctx")),
    Case("POST", "/druid/v2/sql",
      """{"query": "SELECT * FROM events", "context": {"sqlQueryId": "env-sql-cap"}}""",
      400, queryShape, resourceLimit, Some("env-sql-cap")),
    // /druid/v2/sql/statements (async SQL)
    Case("GET", "/druid/v2/sql/statements/nope", "", 404, statementShape,
      druidException),
    Case("GET", "/druid/v2/sql/statements/nope/results", "", 404,
      statementShape, druidException),
    Case("DELETE", "/druid/v2/sql/statements/nope", "", 404, statementShape,
      druidException),
    Case("DELETE", "/druid/v2/sql/statements/a/b/c", "", 404, statementShape,
      druidException),
    Case("PUT", "/druid/v2/sql/statements", "{}", 405, coordinatorShape),
    Case("POST", "/druid/v2/sql/statements", "{", 400, queryShape,
      notSupported),
    // /druid/v2/sql/task (legacy MSQ submit)
    Case("GET", "/druid/v2/sql/task", "", 405, coordinatorShape),
    Case("POST", "/druid/v2/sql/task", """{"query": ""}""", 400, queryShape,
      notSupported),
    // /druid/v2/datasources
    Case("POST", "/druid/v2/datasources", "{}", 405, coordinatorShape),
    Case("GET", "/druid/v2/datasources/events/bogus", "", 400, queryShape,
      notSupported),
    Case("GET", "/druid/v2/datasources/nope", "", 400, queryShape,
      notSupported),
    // /druid/v2/candidates
    Case("POST", "/druid/v2/candidates", "{}", 405, coordinatorShape),
    Case("GET", "/druid/v2/candidates", "", 400, queryShape, notSupported),
    Case("GET", "/druid/v2/candidates?datasource=nope", "", 400, queryShape,
      notSupported),
    // /druid/coordinator/v1/datasources
    Case("POST", "/druid/coordinator/v1/datasources", "{}", 405,
      coordinatorShape),
    Case("GET", "/druid/coordinator/v1/datasources/nope", "", 404,
      coordinatorShape),
    Case("GET", "/druid/coordinator/v1/datasources/events/bogus", "", 404,
      coordinatorShape),
    Case("DELETE", "/druid/coordinator/v1/datasources/events", "", 400,
      coordinatorShape),
    Case("DELETE", "/druid/coordinator/v1/datasources/nope", "", 404,
      coordinatorShape),
    // /druid/coordinator/v1/metadata/datasources
    Case("DELETE", "/druid/coordinator/v1/metadata/datasources/events", "",
      405, coordinatorShape),
    Case("GET", "/druid/coordinator/v1/metadata/datasources/nope", "", 404,
      coordinatorShape),
    // /druid/coordinator/v1/rules
    Case("PUT", "/druid/coordinator/v1/rules/events", "[]", 405,
      coordinatorShape),
    Case("POST", "/druid/coordinator/v1/rules", "[]", 405, coordinatorShape),
    Case("POST", "/druid/coordinator/v1/rules/events", """[{"type": "bogus"}]""",
      400, coordinatorShape),
    Case("POST", "/druid/coordinator/v1/rules/events", "{", 400,
      coordinatorShape),
    // /druid/v1/lookups/introspect
    Case("POST", "/druid/v1/lookups/introspect/nope", "{}", 405,
      coordinatorShape),
    Case("GET", "/druid/v1/lookups/introspect/nope", "", 400, queryShape,
      notSupported),
    Case("GET", "/druid/v1/lookups/introspect", "", 400, queryShape,
      notSupported),
    // /druid/coordinator/v1/lookups/config
    Case("PUT", "/druid/coordinator/v1/lookups/config/__default/x", "{}", 405,
      coordinatorShape),
    Case("GET", "/druid/coordinator/v1/lookups/config/__default/nope", "",
      400, queryShape, notSupported),
    Case("POST", "/druid/coordinator/v1/lookups/config/__default/x",
      """{"lookupExtractorFactory": {"type": "cachedNamespace"}}""", 400,
      queryShape, notSupported))

  test("every context answers its failures with a fixed status and error shape") {
    withBroker { port =>
      cases.foreach { c =>
        val what = s"${c.method} ${c.path}"
        val a = send(port, c.method, c.path, c.body)
        assert(a.status == c.status, s"$what: ${a.status} ${a.body}")
        assert(a.header("Content-Type").contains("application/json"),
          s"$what: ${a.headers.map()}")
        assert(a.fieldNames == c.fields, s"$what: ${a.body}")
        c.error.foreach(e =>
          assert(mapper.readTree(a.body).path("error").asText() == e,
            s"$what: ${a.body}"))
        c.queryId.foreach(q =>
          assert(a.header("X-Druid-Query-Id").contains(q), s"$what: ${a.headers.map()}"))
      }
    }
  }

  test("/status answers every method, and /status/health answers true") {
    withBroker { port =>
      Seq("GET", "POST", "DELETE").foreach { m =>
        val a = send(port, m, "/status", "{}")
        assert(a.status == 200 && a.fieldNames == Seq("service", "version"),
          s"$m: ${a.body}")
      }
      val h = send(port, "GET", "/status/health")
      assert(h.status == 200 && h.body == "true")
    }
  }

  test("a SQL timeout answers the QueryTimeoutException envelope (504)") {
    withBroker { port =>
      val a = send(port, "POST", "/druid/v2/sql",
        """{"query": "SELECT sum(slept) AS s FROM slow",
            "context": {"sqlQueryId": "env-timeout", "timeout": 200}}""")
      assert(a.status == 504, a.body)
      assert(a.fieldNames == queryShape, a.body)
      val o = mapper.readTree(a.body)
      assert(o.path("error").asText() == "Query timeout")
      assert(o.path("errorClass").asText() == "QueryTimeoutException")
      assert(a.header("X-Druid-Query-Id").contains("env-timeout"))
    }
  }

  test("a cancelled SQL query answers the QueryInterruptedException envelope (500)") {
    withBroker { port =>
      val fut = client.sendAsync(request(port, "POST", "/druid/v2/sql",
        """{"query": "SELECT sum(slept) AS s FROM slow",
            "context": {"sqlQueryId": "env-cancel"}}"""),
        HttpResponse.BodyHandlers.ofString())
      Thread.sleep(400) // let the scan start
      val d = send(port, "DELETE", "/druid/v2/sql/env-cancel")
      assert(d.status == 202 && d.fieldNames == Seq("cancelled"), d.body)
      val r = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
      val a = Answer(r.statusCode(), r.body(), r.headers())
      assert(a.status == 500, a.body)
      assert(a.fieldNames == queryShape, a.body)
      val o = mapper.readTree(a.body)
      assert(o.path("error").asText() == "Query cancelled")
      assert(o.path("errorClass").asText() == "QueryInterruptedException")
      assert(a.header("X-Druid-Query-Id").contains("env-cancel"))
    }
  }

  test("statements results before SUCCESS and out-of-range pages are druidException 400s") {
    withBroker { port =>
      val s = send(port, "POST", "/druid/v2/sql/statements",
        """{"query": "SELECT sum(slept) AS s FROM slow",
            "context": {"sqlQueryId": "env-stmt-slow"}}""")
      assert(s.status == 200, s.body)
      val early = send(port, "GET", "/druid/v2/sql/statements/env-stmt-slow/results")
      assert(early.status == 400 && early.fieldNames == statementShape, early.body)
      assert(mapper.readTree(early.body).path("error").asText() == "druidException")
      val deadline = System.nanoTime() + 30000000000L
      def state: String = mapper.readTree(
        send(port, "GET", "/druid/v2/sql/statements/env-stmt-slow").body)
        .path("state").asText()
      while (state != "SUCCESS" && System.nanoTime() < deadline)
        Thread.sleep(50)
      val page = send(port, "GET",
        "/druid/v2/sql/statements/env-stmt-slow/results?page=7")
      assert(page.status == 400 && page.fieldNames == statementShape, page.body)
    }
  }

  test("a VirtualMachineError on the sync SQL path answers 500, then propagates") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) =>
      if (e.isInstanceOf[VirtualMachineError] &&
          String.valueOf(e.getMessage).contains("synthetic")) seen.set(e))
    // a function whose BUILDER throws: analysis runs on the request's
    // pool thread. Registered before the broker starts, so its SQL
    // session copies it from the parent session.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_test_sync_vme",
      _ => throw new OutOfMemoryError("synthetic sync VME"), "scala_udf")
    try withBroker { port =>
      val r = client.send(request(port, "POST", "/druid/v2/sql",
          """{"query": "SELECT graft_test_sync_vme() AS x FROM events",
              "context": {"sqlQueryId": "env-vme"}}""", timeoutS = 10),
        HttpResponse.BodyHandlers.ofString())
      val a = Answer(r.statusCode(), r.body(), r.headers())
      assert(a.status == 500, a.body)
      assert(a.fieldNames == queryShape, a.body)
      assert(mapper.readTree(a.body).path("errorClass").asText() ==
        "java.lang.OutOfMemoryError", a.body)
      assert(a.header("X-Druid-Query-Id").contains("env-vme"))
      // the error is answered, not swallowed: it still leaves the
      // request thread for the uncaught handler
      val deadline = System.nanoTime() + 10000000000L
      while (seen.get() == null && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.get() != null, "VMError was swallowed by the request path")
      assert(send(port, "GET", "/status").status == 200)
    } finally {
      Thread.setDefaultUncaughtExceptionHandler(prev)
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_test_sync_vme"))
    }
  }
}
