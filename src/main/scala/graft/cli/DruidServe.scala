package graft.cli

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Settings
import graft.sql.DruidTime

/** `druid-tool serve` — a minimal HTTP endpoint speaking Druid's
  * native-query WIRE PROTOCOL (`POST /druid/v2`, the broker endpoint
  * every Druid client library and dashboard targets; the reference is
  * a CLI-only SQL bridge, src/main.rs:65). Query JSON compiles through
  * [[graft.query.NativeQuery]] into a declarative Spark plan; the
  * server only shapes the result rows into Druid's per-query-type
  * response envelopes:
  *
  *  - timeseries: `[{"timestamp": iso, "result": {agg: value, ...}}]`
  *  - groupBy: `[{"version": "v1", "timestamp": iso|null,
  *    "event": {dim/agg: value, ...}}]`
  *  - topN: `[{"timestamp": iso|null, "result": [{...}, ...]}]`
  *  - scan: `[{"segmentId": null, "columns": [...], "events": ...}]`
  *    honoring `resultFormat` "list" (objects, default) and
  *    "compactedList" (positional arrays) — one batch, STREAMED off
  *    `toLocalIterator` (partition at a time, never a full collect)
  *    and capped at `maxResultRows`; past the cap the server answers
  *    Druid's ResourceLimitExceeded error envelope instead of
  *    materializing the table on the driver
  *  - everything else (search/timeBoundary/metadata): a plain JSON
  *    array of column->value objects
  *
  * `POST /druid/v2/sql` accepts Druid SQL (`{"query": "..."}`) — the
  * endpoint most modern Druid clients use — running through Spark SQL
  * with the Druid SQL compat layer registered (EARLIEST/LATEST,
  * APPROX_COUNT_DISTINCT_DS_HLL, LOOKUP, TIME_*, MV_*, ...). Honors
  * Druid's `resultFormat` variants — "object" (default), "array",
  * "objectLines", "arrayLines", "csv" — plus `header` /
  * `typesHeader` / `sqlTypesHeader` rows and positional `parameters`
  * (`?` placeholders bound as typed SQL literals), with Druid's
  * content types (json / text/plain / text/csv). Same `maxResultRows`
  * cap and streamed iteration as scan. `GET /druid/v2/datasources[/
  * {name}]` answers the broker's schema-discovery contract from the
  * cached schemas (strings/arrays report as dimensions, numerics as
  * metrics).
  *
  * Lookup management, the remaining broker/coordinator surface lookup
  * clients expect:
  *  - `GET /druid/v1/lookups/introspect/{name}[/keys|/values]` —
  *    introspect a registered lookup map
  *  - `GET|POST|DELETE /druid/coordinator/v1/lookups/config/{tier}/
  *    {name}` — fetch / register (`{"lookupExtractorFactory":
  *    {"type": "map", "map": {...}}}`) / drop a lookup; registered
  *    maps immediately serve
  *    `LOOKUP(...)` SQL and `registeredLookup` extractions
  *
  * Observability: native responses carry Druid's
  * `X-Druid-Response-Context` header (`queryId`, `count`, `timeMs`,
  * `missingSegments` — always empty here: a local scan either reads a
  * segment or fails the query, never skips one silently), and
  * `GET /druid/v2/candidates?datasource=X[&intervals=a/b,...]`
  * answers the segment-candidate listing in Druid's
  * LocatedSegmentDescriptor shape, served from the SAME memoized
  * metadata the planner prunes with — the listing IS the planner's
  * interval pruning, which the spec pins against an actual scan.
  *
  * `GET /status` answers like a broker so client health checks pass.
  * Requests are handled CONCURRENTLY on a fixed pool (`--threads`,
  * default 8) — a real broker never serializes clients behind one
  * slow scan, and `/status` keeps answering while queries run. The
  * shared state is concurrency-safe by construction (lookups in a
  * ConcurrentHashMap, function registration behind a per-session
  * mutex, per-request temp-view registration idempotent).
  *
  * SQL `context` is honored, never silently ignored:
  *  - `sqlQueryId` / `queryId` round-trips as the `X-Druid-Query-Id`
  *    response header (generated when absent, like a broker)
  *  - `sqlTimeZone` scopes the request to a per-zone child
  *    SparkSession (shared SparkContext + data, isolated SQLConf), so
  *    time functions and timestamp rendering answer in the client's
  *    zone without racing concurrent UTC requests
  *  - `timeout` (ms) cancels the query's job group at the deadline
  *    and answers Druid's QueryTimeoutException envelope (HTTP 504)
  *  - `useResultLevelCache`/`populateResultLevelCache` drive the SQL
  *    result cache (off by default); on native queries
  *    `useCache`/`populateCache` drive the native result cache (on by
  *    default). A cached answer is keyed by the table epoch, so it can
  *    never outlive a commit or a lookup edit. The SQL endpoint accepts
  *    `useCache`/`populateCache` and ignores them
  *  - any OTHER key is a 400: a silently dropped context key (e.g. a
  *    semantics-changing `useApproximateCountDistinct: false`) would
  *    return different results than the client's cluster
  *
  * One request path: every endpoint is a handler registered through
  * `route`, which checks the method, splits the path into segments,
  * reads the body and writes the answer. A handler returns a reply or
  * throws; the route answers every failure through one failure table
  * (status, Druid `error`/`errorClass`, statement `category`) in one of
  * the three error shapes — Druid's query envelope, the statements
  * API's `druidException`, or the coordinator's `{"error": msg}`. The
  * native and sync SQL endpoints share one query lifecycle
  * (`runQuery`): query id header, result cache, query control
  * (deadline and DELETE cancellation) and the request log.
  *
  * SECURITY: the SQL endpoint executes Spark SQL, which is strictly
  * broader than Druid SQL (file-backed tables, catalog mutation), so
  * the server binds 127.0.0.1 unless the caller explicitly opts into
  * another interface (`--host`) — exposing it beyond loopback hands
  * every network peer the Spark session's filesystem privileges.
  */
object DruidServe {

  private val mapper = new ObjectMapper()
  private val isoMs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  private def isoAt(ms: Long): String =
    isoMs.format(java.time.Instant.ofEpochMilli(ms))

  // the three query failures Druid names; `failureOf` maps each to its
  // status and envelope

  /** Raised when a result exceeds `maxResultRows`. */
  private final class ResourceLimitExceeded(msg: String)
    extends RuntimeException(msg)

  /** Raised when `context.timeout` elapses. */
  private final class QueryTimedOut(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  private def daemonFactory(prefix: String): java.util.concurrent.ThreadFactory =
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }

  /** A fixed-width pool of daemon threads that die when idle, so a
    * stopped server doesn't pin `n` live threads forever.
    */
  private def daemonPool(n: Int, prefix: String)
      : java.util.concurrent.ThreadPoolExecutor = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      n, n, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      daemonFactory(prefix))
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** One shared timer for `context.timeout` deadlines (the work it
    * schedules is a cheap cancelJobGroup call, never a query).
    */
  private lazy val timeoutScheduler =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      daemonFactory("graft-serve-timeout"))

  /** Distinguishes this server's global temp views from another
    * concurrently running serve instance on the same SparkContext.
    */
  private val serveSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Raised when a client cancels the query via DELETE. */
  private final class QueryCancelled(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** A handler's answer. */
  private final case class Reply(body: String,
                                 contentType: String = "application/json",
                                 status: Int = 200)

  /** The three error bodies the broker answers (see [[errorBody]]). */
  private sealed trait ErrorShape
  private case object QueryError extends ErrorShape
  private case object StatementError extends ErrorShape
  private case object CoordinatorError extends ErrorShape

  /** A handler's own failure answer: `status`, with the message in
    * `shape` (whatever shape its route answers other failures in).
    */
  private final class HttpError(val status: Int, msg: String,
                                val shape: ErrorShape = CoordinatorError)
    extends RuntimeException(msg)

  private def notAllowed(methods: Seq[String]): HttpError =
    new HttpError(405, s"supported methods: ${methods.mkString(", ")}")

  /** How a failure maps onto Druid's error contract: the HTTP status,
    * the query envelope's `error` and `errorClass`, and the statements
    * API's `category`.
    */
  private final case class Failure(status: Int, error: String,
                                   errorClass: String, category: String)

  private def failureOf(e: Throwable): Failure = e match {
    case _: ResourceLimitExceeded => Failure(400, "Resource limit exceeded",
      "ResourceLimitExceededException", "CAPACITY_EXCEEDED")
    case _: QueryTimedOut => Failure(504, "Query timeout",
      "QueryTimeoutException", "TIMEOUT")
    case _: QueryCancelled => Failure(500, "Query cancelled",
      "QueryInterruptedException", "CANCELED")
    // JVM-fatal: answered as a server error, then rethrown by the route
    case _: VirtualMachineError => Failure(500, "Unknown exception",
      e.getClass.getName, "UNCATEGORIZED")
    case _ => Failure(400, "Query not supported", e.getClass.getName,
      "UNCATEGORIZED")
  }

  /** Druid's query envelope (`error`, `errorMessage`, `errorClass`),
    * the statements API's `druidException`, or the coordinator's
    * `{"error": msg}`.
    */
  private def errorBody(shape: ErrorShape, e: Throwable): String = {
    val o = mapper.createObjectNode()
    val msg = String.valueOf(e.getMessage)
    shape match {
      case QueryError =>
        val f = failureOf(e)
        o.put("error", f.error).put("errorMessage", msg)
          .put("errorClass", f.errorClass)
      case StatementError =>
        o.put("error", "druidException").put("errorMessage", msg)
      case CoordinatorError => o.put("error", msg)
    }
    o.toString
  }

  /** One request as the route hands it to its handler: the method, the
    * path under the route's base split into non-empty segments, and
    * the body.
    */
  private final case class Request(ex: HttpExchange, method: String,
                                   segs: List[String], body: String)

  /** What a query handler hands the shared query lifecycle: the log
    * kind and text, the session and `context.timeout` it runs under,
    * the client's cache flags, the cache key and table epoch (consulted
    * only when a flag is set), and how to render the answer (counting
    * its rows).
    */
  private final case class QueryPlan(kind: String, what: String,
      session: SparkSession, timeoutMs: Long,
      useCache: Boolean, populateCache: Boolean,
      cacheKey: () => (String, String), render: AtomicLong => Reply)

  /** qid → (SparkContext, job group) of every request currently
    * executing, for the DELETE cancellation endpoints. Client ids can
    * collide; last-started wins the map slot (each still cancels only
    * its own nonce'd group).
    */
  private val running =
    new java.util.concurrent.ConcurrentHashMap[String, (org.apache.spark.SparkContext, String)]()

  /** True if a cancel request landed for this id and group. */
  private val cancelled =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** Cancel a running query by id (the DELETE endpoints). Returns
    * true when a running query with that id existed.
    */
  private def cancelQuery(qid: String): Boolean =
    Option(running.get(qid)) match {
      case Some((sc, group)) =>
        cancelled.add(group)
        sc.cancelJobGroup(group)
        // the query may have FINISHED between our `running` read and
        // the add above — its cleanup already ran, so nobody would
        // ever remove the flag. If the group is no longer running,
        // retire the flag ourselves (the request no longer needs it).
        if (!running.containsValue((sc, group))) cancelled.remove(group)
        true
      case None => false
    }

  /** Per-thread control handle for the REQUEST CURRENTLY EXECUTING on
    * this pool thread, consulted by the row iterator: cancelJobGroup
    * only kills jobs active at that instant, and `toLocalIterator`
    * submits one job per partition SEQUENTIALLY — a cancel or deadline
    * landing in the gap between jobs would otherwise be a no-op and
    * the query would run to completion past its declared budget.
    */
  private final case class ControlState(qid: String, group: String,
                                        deadline: Long, timeoutMs: Long)
  private val controlState = new ThreadLocal[ControlState]()

  /** Throw if the current request was cancelled or timed out (called
    * between result rows — driver-side, cheap).
    */
  private def checkControl(): Unit = {
    val st = controlState.get()
    if (st != null) {
      if (cancelled.contains(st.group))
        throw new QueryCancelled(s"query ${st.qid} was cancelled")
      if (System.nanoTime() >= st.deadline)
        throw new QueryTimedOut(
          s"query ${st.qid} exceeded timeout ${st.timeoutMs}ms")
    }
  }

  /** Run `body` (plan + execute + serialize) under Druid's query
    * control contract: the request runs in its own job group
    * (registered for DELETE-cancellation), and with a positive
    * `context.timeout` the group is cancelled at the deadline
    * (interrupting running tasks), surfacing as [[QueryTimedOut]];
    * a client DELETE surfaces as [[QueryCancelled]]. The job group is
    * a thread-local Spark property, so concurrent requests on other
    * pool threads are untouched.
    */
  private def withQueryControl[A](spark: SparkSession, qid: String,
                                  timeoutMs: Long)(body: => A): A = {
    val sc = spark.sparkContext
    // nonce: the query id is CLIENT-chosen, and two concurrent
    // requests reusing one id must not share a job group — a shared
    // group would let one request's timeout cancel the other's jobs
    val group = s"graft-serve-$qid-${java.util.UUID.randomUUID().toString.take(8)}"
    sc.setJobGroup(group, s"druid query $qid", interruptOnCancel = true)
    running.put(qid, (sc, group))
    // clamp before the nanos multiply: a fat-fingered epoch-sized
    // timeout would overflow Long and turn EVERY failure into a 504
    val clampedMs = math.min(timeoutMs, 30L * 86400000L)
    val deadline =
      if (timeoutMs > 0) System.nanoTime() + clampedMs * 1000000L
      else Long.MaxValue
    val cancel =
      if (timeoutMs > 0) Some(timeoutScheduler.schedule(new Runnable {
        def run(): Unit = sc.cancelJobGroup(group)
      }, clampedMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      else None
    controlState.set(ControlState(qid, group, deadline, timeoutMs))
    try body
    catch {
      // JVM-fatal errors (OOM, stack overflow, internal error) must
      // propagate as themselves, never be rewritten into an HTTP
      // query envelope
      case e: VirtualMachineError => throw e
      // a client DELETE beats the timeout attribution: its cancel is
      // recorded before the group dies. The original failure rides
      // along as the cause so misattribution stays diagnosable.
      case e: Throwable if cancelled.contains(group) =>
        throw new QueryCancelled(s"query $qid was cancelled", e)
      // any failure past the deadline is (or was caused by) the
      // cancellation — answer the timeout envelope, not a generic 400
      case e: Throwable if System.nanoTime() >= deadline =>
        throw new QueryTimedOut(
          s"query $qid exceeded timeout ${timeoutMs}ms", e)
    } finally {
      controlState.remove()
      cancel.foreach(_.cancel(false))
      running.remove(qid, (sc, group)) // only OUR entry, not a newer same-id
      cancelled.remove(group)
      sc.clearJobGroup()
    }
  }

  /** Start serving; `resolve` maps a dataSource name to its DataFrame
    * (native queries), `sqlTables` names the tables the SQL endpoint
    * exposes as temp views. Port 0 binds an ephemeral port (see
    * `server.getAddress.getPort`). Binds loopback unless `host` says
    * otherwise. Caller stops the returned server.
    */
  def start(spark: SparkSession, resolve: String => DataFrame,
            port: Int,
            sqlTables: Map[String, DataFrame] = Map.empty,
            host: String = "127.0.0.1",
            maxResultRows: Int = 100000,
            threads: Int = 8,
            logQueries: Boolean = false,
            statementPageRows: Int = 100000,
            ingestRoot: Option[String] = None,
            autoCompactSeconds: Option[Long] = None,
            compactTargetRows: Long = 5000000L,
            statementRetireBound: Int = 500,
            sysSchema: Boolean = false): HttpServer = {
    require(statementPageRows > 0,
      s"statementPageRows must be positive: $statementPageRows")
    require(threads > 0, s"--threads must be positive: $threads")
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.setExecutor(daemonPool(threads, "graft-serve"))
    val serveId = serveSeq.incrementAndGet()
    def logQuery(qid: String, kind: String, what: String, t0: Long,
                 rows: Long, status: String): Unit =
      if (logQueries)
        System.err.println(f"[druid-serve] qid=$qid kind=$kind " +
          f"ms=${(System.nanoTime() - t0) / 1000000L} rows=$rows " +
          f"status=$status $what")
    // served-table registry: starts as sqlTables, and SQL ingestion
    // (INSERT/REPLACE via the statements API) adds or refreshes
    // entries at runtime with a fresh discovery-time DataFrame.
    val servedTables =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    sqlTables.foreach { case (n, df) => servedTables.put(n, df) }
    // names whose serving data lives under ingestRoot/<name> (startup
    // discovery or runtime ingest). /candidates' directory fallback is
    // gated on THIS set: an explicit sqlTables entry that happens to
    // share a name with an on-disk dir must not list the shadowed
    // dir's segments while queries answer from the in-memory frame.
    val ingestBacked =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // startup discovery: a restarted broker re-serves every datasource
    // a previous process ingested into this root (segments + manifest
    // are the durable state; the statement registry is not). Explicit
    // sqlTables win on a name collision — they are the caller's
    // serving intent for THIS process. A directory that fails to open
    // as a segment table is skipped loudly, never fatally: one
    // corrupted table must not take down the broker.
    ingestRoot.foreach { root =>
      val dirs = Option(new java.io.File(root).listFiles()).getOrElse(Array())
      dirs.filter(d => d.isDirectory && !d.getName.startsWith("."))
        .sortBy(_.getName).foreach { d =>
          val name = d.getName
          if (!servedTables.containsKey(name)) {
            try {
              if (graft.sources.druid.SegmentCatalog.metaFor(d.getPath).nonEmpty) {
                servedTables.put(name,
                  spark.read.format("druid").load(d.getPath))
                ingestBacked.add(name)
                System.err.println(
                  s"[graft-serve] discovered ingested datasource '$name' " +
                    s"at ${d.getPath}")
              }
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft-serve] SKIPPING datasource dir ${d.getPath}: " +
                    s"failed to open as a segment table (${e.getMessage})")
            }
          }
        }
    }
    val servedViews =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val tzSessions =
      new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()
    // global temp views (registered lazily on first tz use, or at
    // ingest) bridge served tables into per-timezone child sessions —
    // temp views are session-local; global temp views are the public
    // cross-session channel and carry the full logical plan, so
    // pushdown survives
    def ensureGlobalView(n: String, df: DataFrame): String =
      servedViews.computeIfAbsent(n, _ => {
        val g = s"graft_serve_${serveId}_$n"
        df.createOrReplaceGlobalTempView(g)
        g
      })
    def bridgeView(s: SparkSession, n: String, g: String): Unit = {
      val _ = s.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$n` AS " +
        s"SELECT * FROM global_temp.`$g`")
    }
    /** (Re-)register a served table after an ingest commit: fresh
      * DataFrame, refreshed global view, bridges refreshed into every
      * LIVE tz session (future sessions copy servedTables at creation).
      */
    def registerServedTable(name: String, df: DataFrame): Unit = {
      servedTables.put(name, df)
      ingestBacked.add(name) // every caller serves ingestRoot/<name>
      val g = s"graft_serve_${serveId}_$name"
      df.createOrReplaceGlobalTempView(g)
      servedViews.put(name, g)
      tzSessions.forEach((_, s2) => bridgeView(s2, name, g))
    }
    def resolveServed(name: String): DataFrame =
      Option(servedTables.get(name)).getOrElse(resolve(name))
    // (session, zone-aware row renderer) for a request's sqlTimeZone.
    // Child sessions are built once per zone and reused: newSession()
    // shares the SparkContext and cached data but isolates SQLConf, so
    // a Los_Angeles request can't shift a concurrent UTC request.
    // The broker's default SQL session: a child session (shared
    // SparkContext + shared catalog, isolated SQLConf) pinned to UTC
    // with ANSI double-quoted IDENTIFIERS — Druid SQL (and the
    // reference's DataFusion) treat "x" as an identifier, never a
    // string literal; the console emits that shape on every query.
    // Executing wire SQL on the caller's session would silently read
    // "col" as the string 'col'.
    def newSqlSession(zoneId: String): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", zoneId)
      s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      // newSession() starts with no temp functions and no extra
      // optimizer rules, and served tables arrive as global temp views,
      // so no druid-table resolution installs graft here by itself
      graft.sql.GraftExtensions.install(s)
      // callers may have registered their own temp functions / temp
      // views on the parent session and expect the SQL endpoint to see
      // them (the endpoint ran directly on the parent before child
      // sessions): snapshot both at creation. The isEmpty guard keeps
      // builtins and graft's own (identical) registrations
      // authoritative in the child.
      val pr = spark.sessionState.functionRegistry
      val cr = s.sessionState.functionRegistry
      pr.listFunction().foreach { fi =>
        if (cr.lookupFunction(fi).isEmpty)
          for (info <- pr.lookupFunction(fi);
               b <- pr.lookupFunctionBuilder(fi))
            cr.registerFunction(fi, info, b)
      }
      val pc = spark.sessionState.catalog
      pc.getTempViewNames().foreach { v =>
        pc.getRawTempView(v).foreach(rel =>
          s.sessionState.catalog.createTempView(v, rel,
            overrideIfExists = false))
      }
      servedTables.forEach((n, df) =>
        bridgeView(s, n, ensureGlobalView(n, df)))
      s
    }
    lazy val sqlSession: SparkSession =
      tzSessions.computeIfAbsent("UTC", _ => newSqlSession("UTC"))
    def sessionFor(tz: Option[String]): (SparkSession, DateTimeFormatter) =
      tz match {
        case None => (sqlSession, isoMs)
        case Some(z) =>
          val zone =
            try java.time.ZoneId.of(z)
            catch { case e: java.time.DateTimeException =>
              throw new IllegalArgumentException(
                s"context.sqlTimeZone '$z' is not a valid time zone: ${e.getMessage}") }
          val fmt = DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(zone)
          if (zone.normalized() == ZoneOffset.UTC) (sqlSession, isoMs)
          else
            (tzSessions.computeIfAbsent(zone.getId, newSqlSession), fmt)
      }
    /** The broker's one request path, and the only `createContext`
      * caller. Checks the method (an empty `methods` accepts any),
      * splits the path under `base` into segments, reads the body and
      * answers the handler's reply. A failure is answered from the
      * failure table in the route's `shape`, or as the handler's own
      * [[HttpError]]; a JVM-fatal error is answered with a 500 and then
      * rethrown, so it still reaches the thread's uncaught handler.
      */
    def route(base: String, methods: Seq[String],
              shape: ErrorShape = QueryError)
             (handler: Request => Reply): Unit = {
      val _ = server.createContext(base, (ex: HttpExchange) => {
        val (reply, fatal) =
          try {
            val method = ex.getRequestMethod
            if (methods.nonEmpty && !methods.contains(method))
              throw notAllowed(methods)
            val segs = ex.getRequestURI.getPath.stripPrefix(base)
              .split("/").toList.filter(_.nonEmpty)
            (handler(Request(ex, method, segs,
              new String(ex.getRequestBody.readAllBytes(), UTF_8))), None)
          } catch {
            case e: Throwable =>
              val (status, s) = e match {
                case h: HttpError => (h.status, h.shape)
                case _            => (failureOf(e).status, shape)
              }
              (Reply(errorBody(s, e), status = status),
                Some(e).collect { case v: VirtualMachineError => v })
          }
        try respond(ex, reply) finally fatal.foreach(e => throw e)
      })
    }
    route("/status", Nil) { req =>
      if (req.segs == List("health")) Reply("true") // console healthcheck
      else Reply("""{"service":"graft/broker","version":"graft-1"}""")
    }

    // ---- broker result cache (Druid's useCache / populateCache) ----
    // Native-query results cache at the broker keyed by (canonical
    // query JSON, table-state epoch). The epoch folds in, per served
    // datasource, the SegmentCatalog state fingerprint when the table
    // is segment-backed (one directory listing — changes on ANY
    // commit, including external writers) or the DataFrame's identity
    // for in-memory frames (changes when a view is re-registered),
    // plus the lookup-registry version (a lookup edit changes answers
    // without touching segments). A hit therefore can never serve
    // results from a previous table generation. Both flags default
    // true, like Druid; `useCache:false` forces a recompute,
    // `populateCache:false` keeps a result out. Entries are LRU
    // (access order), bounded by count and per-entry size; responses
    // carry `X-Graft-Cache: HIT|MISS` and a `cached` flag in the
    // response context.
    val resultCacheMax = 256
    val resultCacheMaxEntryBytes = 2 << 20
    final case class CachedResult(epoch: String, body: String, rows: Long,
                                  contentType: String)
    val resultCache =
      new java.util.LinkedHashMap[String, CachedResult](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, CachedResult]): Boolean =
          size() > resultCacheMax
      }
    def tableEpochOf(name: String, df: DataFrame): String = {
      // a failed fingerprint must fail OPEN (unique value -> miss),
      // never serve a possibly-stale hit
      def fp(root: String): String =
        try graft.sources.druid.SegmentCatalog.stateFingerprint(root)
        catch { case scala.util.control.NonFatal(_) =>
          s"fp-error-${System.nanoTime()}" }
      if (ingestBacked.contains(name))
        ingestRoot.map(r => fp(s"$r/$name"))
          .getOrElse(s"id-${System.identityHashCode(df)}")
      else {
        // collect EVERY segment-backed relation anywhere in the plan —
        // a served frame that filters/projects/joins over druid tables
        // must move its epoch when any underlying table commits, not
        // just when the frame is a bare relation
        val roots = druidRoots(df).sorted
        if (roots.isEmpty) s"id-${System.identityHashCode(df)}"
        else roots.map(fp).mkString(",")
      }
    }
    /** Epoch over the datasources a query actually references (empty
      * set = fold all served tables, the fail-safe). Scoping means a
      * commit to an UNRELATED table no longer invalidates every cached
      * entry, and per-request fingerprint cost tracks the query's
      * tables, not the broker's whole catalog. Over-inclusion is safe
      * (extra invalidation); under-inclusion is not — callers pass a
      * conservative superset.
      */
    def cacheEpoch(referenced: Set[String] = Set.empty): String = {
      val sb = new StringBuilder
      val all = servedTables.keySet().asScala.toSeq.sorted
      val names = if (referenced.isEmpty) all else all.filter(referenced.contains)
      names.foreach { n =>
        sb.append(n).append('=')
          .append(tableEpochOf(n, servedTables.get(n))).append(';')
      }
      sb.append("lookups=").append(graft.sql.DruidLookups.version)
      sb.toString
    }
    /** Served-table names appearing as word tokens in a SQL text — a
      * conservative superset of the tables the query touches (a name in
      * a comment over-includes, which only over-invalidates). Returns
      * empty (= scope to all) when nothing matches, so a reference this
      * heuristic cannot see still gets the full-catalog epoch.
      */
    def referencedInSql(sql: String): Set[String] = {
      val lower = sql.toLowerCase(java.util.Locale.ROOT)
      val names = servedTables.keySet().asScala
      names.filter { n =>
        val t = n.toLowerCase(java.util.Locale.ROOT)
        var i = lower.indexOf(t)
        var hit = false
        while (i >= 0 && !hit) {
          def word(c: Char) = Character.isLetterOrDigit(c) || c == '_'
          val pre = i == 0 || !word(lower.charAt(i - 1))
          val post = i + t.length >= lower.length ||
            !word(lower.charAt(i + t.length))
          hit = pre && post
          i = lower.indexOf(t, i + 1)
        }
        hit
      }.toSet
    }
    /** Datasource names referenced by a native query: every textual
      * node under any `dataSource` field, recursively (covers string
      * datasources, {type:table,name}, nested query and join
      * datasources). Superset-safe like referencedInSql.
      */
    def referencedInNative(q: JsonNode): Set[String] = {
      val out = scala.collection.mutable.Set[String]()
      def texts(n: JsonNode): Unit =
        if (n.isTextual) out += n.asText()
        else if (n.isContainerNode) n.elements().asScala.foreach(texts)
      def walk(n: JsonNode): Unit =
        if (n.isObject) {
          Option(n.get("dataSource")).foreach(texts)
          n.elements().asScala.foreach(walk)
        } else if (n.isArray) n.elements().asScala.foreach(walk)
      walk(q)
      out.filter(servedTables.containsKey).toSet
    }
    /** Cache key: the query JSON with field order canonicalized and
      * the identity/operational context keys dropped (two requests
      * differing only in queryId/timeout/cache flags are the same
      * query; semantic context keys stay in the key).
      */
    def cacheKeyOf(q: JsonNode): String = {
      val dropFromContext =
        Set("queryId", "timeout", "useCache", "populateCache",
          "priority", "lane")
      def canon(n: JsonNode, inContext: Boolean): String = {
        if (n.isObject) {
          val fields = n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
            .filterNot { case (k, _) => inContext && dropFromContext(k) }
            .sortBy(_._1)
          fields.flatMap { case (k, v) =>
            val body = canon(v, k == "context" && !inContext)
            // a context emptied by the drop list must key the same as
            // no context at all (a bare retry vs one with a queryId)
            if (!inContext && k == "context" && body == "{}") None
            else Some(mapper.writeValueAsString(k) + ":" + body)
          }.mkString("{", ",", "}")
        } else if (n.isArray) {
          n.elements().asScala.map(canon(_, inContext)).mkString("[", ",", "]")
        } else mapper.writeValueAsString(n)
      }
      canon(q, inContext = false)
    }
    /** One query's lifecycle, shared by the native and sync SQL
      * endpoints. Sets `X-Druid-Query-Id` before `plan` is evaluated, so
      * every later failure carries it. Answers from the result cache
      * when the entry's epoch is current (evicting a stale generation),
      * else runs the plan under [[withQueryControl]] and caches answers
      * up to `resultCacheMaxEntryBytes`. Sets `X-Graft-Cache` when the
      * cache was consulted and logs the request once. Returns the
      * reply, its row count and whether it was a cache hit.
      */
    def runQuery(ex: HttpExchange, qid: String)
                (plan: => QueryPlan): (Reply, Long, Boolean) = {
      ex.getResponseHeaders.set("X-Druid-Query-Id", qid)
      val p = plan
      val t0 = System.nanoTime()
      val rows = new AtomicLong()
      val key =
        if (p.useCache || p.populateCache)
          scala.util.Try(p.cacheKey()).toOption
        else None
      val hit = key.filter(_ => p.useCache).flatMap { case (k, epoch) =>
        resultCache.synchronized {
          Option(resultCache.get(k)) match {
            case Some(c) if c.epoch == epoch => Some(c)
            case Some(_) => resultCache.remove(k); None // stale gen
            case None => None
          }
        }
      }
      hit match {
        case Some(c) =>
          logQuery(qid, p.kind, p.what, t0, c.rows, "cache-hit")
          ex.getResponseHeaders.set("X-Graft-Cache", "HIT")
          (Reply(c.body, c.contentType), c.rows, true)
        case None =>
          val reply =
            try withQueryControl(p.session, qid, p.timeoutMs)(p.render(rows))
            catch { case e: Throwable =>
              logQuery(qid, p.kind, p.what, t0, rows.get(),
                s"error:${e.getClass.getSimpleName}")
              throw e
            }
          logQuery(qid, p.kind, p.what, t0, rows.get(), "ok")
          key.foreach { case (k, epoch) =>
            if (p.populateCache && reply.body.length <= resultCacheMaxEntryBytes)
              resultCache.synchronized {
                resultCache.put(k,
                  CachedResult(epoch, reply.body, rows.get(), reply.contentType))
              }
            ex.getResponseHeaders.set("X-Graft-Cache", "MISS")
          }
          (reply, rows.get(), false)
      }
    }
    // the JDK server routes a path to the LONGEST matching context, so
    // /druid/v2/sql takes SQL and /druid/v2 native JSON
    route("/druid/v2", Seq("POST", "DELETE")) { req =>
      (req.method, req.segs) match {
        case ("POST", _) =>
          val q = mapper.readTree(req.body)
          val ctx = q.path("context")
          val qid = Option(ctx.path("queryId").asText(null))
            .getOrElse(java.util.UUID.randomUUID().toString)
          val t0 = System.nanoTime()
          val (reply, count, cached) = runQuery(req.ex, qid) {
            QueryPlan("native", q.path("queryType").asText("?"), spark,
              ctx.path("timeout").asLong(0),
              useCache = ctx.path("useCache").asBoolean(true),
              populateCache = ctx.path("populateCache").asBoolean(true),
              () => (cacheKeyOf(q), cacheEpoch(referencedInNative(q))),
              rows => Reply(envelope(q,
                graft.query.NativeQuery.run(req.body, resolveServed),
                maxResultRows, rows)))
          }
          // Druid's response-context header (observability clients
          // parse it for timing/row counts), set once the rows
          // materialized. missingSegments is always empty — a local
          // scan either reads a segment or fails the query, it never
          // silently skips one.
          val rc = mapper.createObjectNode()
          rc.put("queryId", qid)
          rc.put("count", count)
          rc.put("timeMs", (System.nanoTime() - t0) / 1000000L)
          if (cached) rc.put("cached", true)
          rc.putArray("missingSegments")
          req.ex.getResponseHeaders.set("X-Druid-Response-Context", rc.toString)
          reply
        // Druid's query cancellation: DELETE /druid/v2/{queryId}
        case (_, id :: Nil) => cancelReply(id)
        case _ => throw notAllowed(Seq("POST"))
      }
    }
    // ---- shared by the sync SQL endpoint and the async statements API
    def validateSqlContext(ctx: JsonNode,
                           extraSupported: Set[String]): Unit =
      if (ctx.isObject) {
        // honored + result-neutral keys a drop-in client may send
        // (cache hints and operational tuning knobs a real broker
        // accepts without changing ANSWERS — accepted and ignored
        // here); anything else 400s — a silently dropped semantic
        // key (say useApproximateCountDistinct:false) would answer
        // different numbers than the client's cluster
        val honored = Set("sqlQueryId", "queryId", "sqlTimeZone",
          "timeout",
          // result-level cache flags are HONORED on the sync SQL
          // endpoint (off by default, like Druid's broker config)
          "useResultLevelCache", "populateResultLevelCache")
        val ignoredOperational = Set(
          "useCache", "populateCache", "priority", "lane",
          "brokerService", "finalize", "debug",
          "setProcessingThreadNames", "enableParallelMerge",
          "parallelMergeParallelism", "parallelMergeInitialYieldRows",
          "parallelMergeSmallBatchRows", "maxScatterGatherBytes",
          "maxQueuedBytes", "secondaryPartitionPruning",
          "enableJoinFilterPushDown", "enableJoinFilterRewrite",
          "enableJoinLeftTableScanDirect", "enableRewriteJoinToFilter",
          "useFilterCNF", "vectorize", "vectorizeVirtualColumns",
          "vectorSize")
        val supported = honored ++ ignoredOperational ++ extraSupported
        val bad = ctx.fieldNames().asScala.filterNot(supported).toSeq
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"unsupported SQL context key(s) ${bad.mkString(", ")} " +
              s"(supported: ${supported.toSeq.sorted.mkString(", ")})")
      }
    def sqlQueryIdOf(ctx: JsonNode): String =
      Seq("sqlQueryId", "queryId")
        .flatMap(k => Option(ctx.path(k).asText(null))).headOption
        .getOrElse(java.util.UUID.randomUUID().toString)
    // The statement's DataFrame: served views + SQL-compat functions +
    // INFORMATION_SCHEMA registered, EXPLAIN PLAN FOR handled
    def buildSqlDf(session: SparkSession, sql0raw: String,
                   args: Array[Any]): DataFrame = {
      graft.sql.GraftExtensions.install(session)
      // served tables reach the session as bridged global-temp views:
      // registered at child-session creation (newSqlSession) and
      // re-bridged into every live session on ingest commits
      // (registerServedTable) — no per-request DDL
      registerInformationSchema(spark,
        servedTables.asScala.toMap)
      // Druid MSQ's TABLE(EXTERN(...)) external-input table function:
      // each call compiles to a spark.read temp view (graft.sql.Extern)
      // so SELECTs and INSERT/REPLACE ingestion accept the wire shape;
      // Druid SQL UNNEST rewrites to Spark's LATERAL VIEW explode
      val sql0 = graft.sql.Unnest.rewrite(
        graft.sql.Extern.rewrite(session, sql0raw))
      explainPlanFor(sql0) match {
        case Some(inner) =>
          // Druid's `EXPLAIN PLAN FOR <query>` (the statement
          // the web console and several clients issue to inspect
          // plans): answer Druid's one-row shape — PLAN (the
          // engine's formatted plan text), RESOURCES (the
          // datasources the query reads, as Druid's
          // [{"name":...,"type":"DATASOURCE"}] JSON), ATTRIBUTES
          // (statementType). The plan text is Spark's, not a
          // native-query JSON — honest about what executes.
          val q =
            if (args.isEmpty) session.sql(inner)
            else session.sql(inner, args)
          val planText = q.queryExecution.explainString(
            org.apache.spark.sql.execution.ExtendedMode)
          // referenced datasources from the PARSED plan (the
          // analyzed plan has already swapped views for their
          // definitions, losing the client-facing names)
          val tables = session.sessionState.sqlParser.parsePlan(inner)
            .collect {
              case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
                r.multipartIdentifier.mkString(".")
            }.distinct
          val resources = tables.map(t =>
            mapper.createObjectNode().put("name", t)
              .put("type", "DATASOURCE"))
            .foldLeft(mapper.createArrayNode())((a, o) => { a.add(o); a })
          import session.implicits._
          Seq((planText, resources.toString,
            """{"statementType":"SELECT"}"""))
            .toDF("PLAN", "RESOURCES", "ATTRIBUTES")
        case None =>
          if (args.isEmpty) session.sql(sql0) else session.sql(sql0, args)
      }
    }

    // ---- async SQL statements API (Druid's /druid/v2/sql/statements/:
    // POST submits, GET polls status, GET {id}/results pages results,
    // DELETE cancels). Executes on its own bounded pool so long async
    // queries can never starve the HTTP threads.
    //
    // DURABILITY CONTRACT (pinned by DruidServeSpec "restart
    // contract"): the LIVE registry is in-memory, scoped to this
    // broker process — a restart forgets RUNNING / FAILED / CANCELED
    // statements (status/results answer 404 for those pre-restart
    // ids), matching a Druid broker's per-process SQL lifecycle;
    // Druid's durable-task surface is MSQ/Overlord, a documented
    // non-goal here. SUCCESS statements are the exception: their
    // terminal envelope journals to ingestRoot/.statements at the
    // moment they turn SUCCESS, and a restarted broker re-serves
    // status + paged results for them (below). The DATA an ingestion
    // statement commits is likewise durable: segments land in the
    // sharded manifest atomically BEFORE the statement turns SUCCESS,
    // so a SUCCESS answer is never retracted by a crash and a
    // restarted broker serves the ingested table from the same
    // ingestRoot.
    val statements =
      new java.util.concurrent.ConcurrentHashMap[String, AsyncStatement]()
    val statementOrder =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // Durable half of the restart contract: SUCCESS statements journal
    // their terminal envelope (id, sql, schema, page contents, result
    // summary) under ingestRoot/.statements so a restarted broker can
    // still answer GET {id} and GET {id}/results for them — RUNNING /
    // FAILED / CANCELED statements stay per-process (404 after
    // restart, the documented contract). File names are base64url of
    // the CALLER-CHOSEN query id, so a hostile id can't traverse paths.
    val statementJournalDir: Option[java.nio.file.Path] =
      ingestRoot.map(r => java.nio.file.Paths.get(r, ".statements"))
    def journalFileOf(qid: String): Option[java.nio.file.Path] =
      statementJournalDir.map(_.resolve(
        java.util.Base64.getUrlEncoder.withoutPadding()
          .encodeToString(qid.getBytes(UTF_8)) + ".json"))
    def journalStatement(st: AsyncStatement): Unit =
      journalFileOf(st.queryId).foreach { f =>
        try {
          java.nio.file.Files.createDirectories(f.getParent)
          val o = mapper.createObjectNode()
            .put("queryId", st.queryId).put("sql", st.sql)
            .put("createdAt", st.createdAt)
            .put("resultFormat", st.resultFormat).put("state", st.state)
            .put("durationMs", st.durationMs)
            .put("numTotalRows", st.numTotalRows)
            .put("dataSource", st.dataSource)
          st.schemaJson.foreach(s => o.set[ObjectNode]("schema", s))
          val ps = o.putArray("pages")
          st.pages.foreach { case (rows, bytes) =>
            val p = ps.addObject()
            p.put("bytes", bytes)
            p.set[ObjectNode]("rows", rows)
          }
          writeAtomically(f, o)
        } catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"[graft-serve] statement journal write failed for " +
              s"${st.queryId}: ${e.getMessage}")
        }
      }
    // startup recovery: re-serve every journaled SUCCESS envelope
    statementJournalDir.filter(java.nio.file.Files.isDirectory(_))
      .foreach { d =>
        val files = Option(d.toFile.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".json"))
          .sortBy(_.getName)
        val loaded = files.flatMap { f =>
          try {
            val n = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
            if (n.path("state").asText() != "SUCCESS") None
            else {
              val st = new AsyncStatement(n.path("queryId").asText(),
                n.path("sql").asText(), n.path("createdAt").asText(),
                n.path("resultFormat").asText("object"))
              st.state = "SUCCESS"
              st.durationMs = n.path("durationMs").asLong(-1L)
              st.numTotalRows = n.path("numTotalRows").asLong(0L)
              st.dataSource = n.path("dataSource").asText("__query_select")
              if (n.hasNonNull("schema")) n.path("schema") match {
                case a: ArrayNode =>
                  st.schemaJson = Some(a)
                case _ => ()
              }
              st.pages = n.path("pages").elements().asScala.collect {
                case p if p.path("rows").isInstanceOf[ArrayNode] =>
                  (p.path("rows").asInstanceOf[ArrayNode],
                    p.path("bytes").asLong(0L))
              }.toVector
              Some(st)
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft-serve] SKIPPING statement " +
                s"journal ${f.getName}: ${e.getMessage}")
              None
          }
        }
        loaded.sortBy(_.createdAt).foreach { st =>
          if (statements.putIfAbsent(st.queryId, st) == null)
            statementOrder.add(st.queryId)
        }
        if (loaded.nonEmpty) System.err.println(
          s"[graft-serve] recovered ${loaded.length} journaled " +
            "SUCCESS statement(s)")
      }
    val stmtThreads = math.max(2, threads / 2)
    val statementPool = daemonPool(stmtThreads, "graft-serve-stmt")
    // bound the registry: retire the oldest TERMINAL statements past
    // the bound (default 500) so a long-lived broker can't accumulate
    // result pages forever.
    // PEEK, don't poll: re-queuing a still-running head at the TAIL
    // would corrupt retirement order (newer terminal statements would
    // evict before older ones). While the head runs, retirement simply
    // stops — the registry may briefly exceed the bound, and resumes
    // oldest-first the moment the head turns terminal.
    def retireStatements(): Unit =
      while (statementOrder.size() > statementRetireBound) {
        val old = statementOrder.peek()
        if (old == null) return
        val s = statements.get(old)
        if (s != null && !s.terminal) return
        // remove the peeked head (a racing retirer may have removed it
        // already — remove(old) then just no-ops)
        statementOrder.remove(old)
        if (s != null) statements.remove(old, s)
        // retirement bounds the journal too, same oldest-first order
        journalFileOf(old).foreach(f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: Exception => () })
      }
    def statementStatusJson(st: AsyncStatement): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("queryId", st.queryId)
      o.put("state", st.state)
      o.put("createdAt", st.createdAt)
      if (st.durationMs >= 0) o.put("durationMs", st.durationMs)
      st.schemaJson.foreach(s => o.set[ObjectNode]("schema", s))
      if (st.state == "SUCCESS") {
        val r = o.putObject("result")
        r.put("numTotalRows", st.numTotalRows)
        r.put("totalSizeInBytes", st.pages.map(_._2).sum)
        r.put("resultFormat", st.resultFormat)
        r.put("dataSource", st.dataSource)
        val ps = r.putArray("pages")
        st.pages.zipWithIndex.foreach { case ((rowsN, bytes), i) =>
          val p = ps.addObject()
          p.put("id", i.toLong)
          p.put("numRows", rowsN.size().toLong)
          p.put("sizeInBytes", bytes)
        }
      }
      st.error.foreach { e =>
        val d = o.putObject("errorDetails")
        d.put("error", "druidException")
        d.put("errorCode", e.getClass.getSimpleName)
        d.put("persona", "USER")
        d.put("category", failureOf(e).category)
        d.put("errorMessage", String.valueOf(e.getMessage))
      }
      o
    }
    // ---- Druid `sys` metadata schema (segments / servers / tasks) ----
    // Live views over THIS broker's state through the graft-sys DSv2
    // source: sys.segments lists each served datasource's manifest AT
    // SCAN TIME (a commit between two queries shows up in the second —
    // no snapshot staleness, and no VALUES literal to re-render at
    // 10^5 segments), sys.servers reports this process, sys.tasks
    // mirrors the async-statements registry (Druid's MSQ query tasks).
    // Registered in the session catalog (CREATE TABLE ... USING) so
    // `SELECT ... FROM sys.segments` resolves like any table; the
    // serve id pins the tables to this broker instance, so several
    // brokers in one JVM never read each other's state (the LAST one
    // that registers owns the sys.* names — opt-in per start()).
    val serverStartIso = isoMs.format(java.time.Instant.now())
    if (sysSchema) {
      import graft.sources.sys.SysRegistry
      val sysId = s"broker-$serveId"
      val boundPort = server.getAddress.getPort.toLong
      val serverName = s"$host:${server.getAddress.getPort}"
      // a served name maps to a listable root when ingest-backed or
      // when its frame is a single bare druid relation; derived frames
      // (joins/projections served under a name) have no segment rows —
      // same honesty as Druid, where only real datasources appear
      def rootOf(name: String, df: DataFrame): Option[String] =
        if (ingestBacked.contains(name)) ingestRoot.map(r => s"$r/$name")
        else druidRoots(df) match {
          case Seq(one) => Some(one)
          case _        => None
        }
      def dsSnapshot(): Seq[SysRegistry.Datasource] =
        servedTables.asScala.toSeq.map { case (name, df) =>
          val (dims, mets) = dimensionsAndMetrics(df)
          SysRegistry.Datasource(name, rootOf(name, df), dims, mets)
        }.sortBy(_.name)
      SysRegistry.register(sysId, SysRegistry.State(
        datasources = () => dsSnapshot(),
        servers = () => {
          // one process plays both roles of a single-node deploy: the
          // broker (query entry) and the historical (segment serving).
          // curr_size walks the served roots once per sys.servers scan
          // — an ops query, not a hot path; max_size mirrors curr (no
          // quota concept on a shared filesystem).
          val served = dsSnapshot().flatMap(_.root).distinct
          val bytes = served.map(dirSize).sum
          Seq(
            SysRegistry.ServerRow(serverName, host, boundPort, -1L,
              "broker", null, 0L, 0L, 1L, serverStartIso),
            SysRegistry.ServerRow(serverName, host, boundPort, -1L,
              "historical", "_default_tier", bytes, bytes, 0L,
              serverStartIso))
        },
        tasks = () =>
          statements.values().asScala.toSeq.map { st =>
            val status = st.state match {
              case "SUCCESS"            => "SUCCESS"
              case "FAILED" | "CANCELED" => "FAILED"
              case _                    => "RUNNING"
            }
            SysRegistry.TaskRow(st.queryId, "query_controller",
              st.dataSource, st.createdAt, status,
              if (status == "RUNNING") "RUNNING" else "NONE",
              st.durationMs, host, boundPort,
              if (st.state == "CANCELED") "Canceled"
              else st.error.map(e => String.valueOf(e.getMessage)).orNull)
          }.sortBy(_.createdTime)))
      spark.sql("CREATE DATABASE IF NOT EXISTS sys")
      Seq("segments", "servers", "tasks").foreach { k =>
        spark.sql(s"DROP TABLE IF EXISTS sys.$k")
        spark.sql(s"CREATE TABLE sys.$k USING `graft-sys` " +
          s"OPTIONS (kind '$k', serveid '$sysId')")
      }
    }

    /** Execute a parsed ingestion statement: write the SELECT's rows
      * into `ingestRoot/<table>` through the segment writer (append
      * for INSERT, atomic overwrite for REPLACE ALL, interval-scoped
      * catalog overwrite for REPLACE WHERE), then re-register the
      * served table so the new generation is immediately queryable on
      * every endpoint. Returns the ingested row count (observed on the
      * write's own pass when Spark surfaces the metric; one extra
      * count pass otherwise).
      */
    def runIngest(session: SparkSession, spec: IngestSpec,
                  df: DataFrame): Long = {
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      val root = ingestRoot.getOrElse(throw new IllegalArgumentException(
        "this broker is read-only: INSERT/REPLACE ingestion is disabled"))
      if (!df.columns.contains("__time"))
        throw new IllegalArgumentException(
          "ingestion query must produce a __time column " +
            s"(got: ${df.columns.mkString(", ")})")
      // CLUSTERED BY = Druid's secondary partitioning: range-partition
      // on the cluster keys so each task (and therefore each segment)
      // covers a contiguous key range
      val dfC =
        if (spec.clusterBy.isEmpty) df
        else df.repartitionByRange(spec.clusterBy.map(col): _*)
      val obs = new org.apache.spark.sql.Observation()
      val dfo = dfC.observe(obs, count(lit(1)).as("rows"))
      val dir = s"$root/${spec.table}"
      // a served name WITHOUT a segment directory is an in-memory
      // view: writing root/<name> would silently SHADOW it with a
      // different table — refuse loudly; new names and segment-backed
      // tables ingest normally
      if (servedTables.containsKey(spec.table) &&
          !new java.io.File(dir).isDirectory)
        throw new IllegalArgumentException(
          s"dataSource ${spec.table} is a served view, not a " +
            "segment-backed table — ingestion would shadow it")
      spec.replaceWhere match {
        case Some(cond) =>
          // interval-scoped REPLACE rides the catalog's overwrite-
          // by-filter path (validated __time-range, atomic swap)
          val catName = s"graft_ingest_$serveId"
          session.conf.set(s"spark.sql.catalog.$catName",
            classOf[graft.sources.druid.GraftCatalog].getName)
          session.conf.set(s"spark.sql.catalog.$catName.root", root)
          var w = dfo.writeTo(s"$catName.${spec.table}")
          spec.granularity.foreach(g => w = w.option("segmentGranularity", g))
          w.overwrite(expr(cond))
        case None =>
          var w = dfo.write.format("druid")
            .mode(if (spec.replaceAll) "overwrite" else "append")
          spec.granularity.foreach(g => w = w.option("segmentGranularity", g))
          w.save(dir)
      }
      registerServedTable(spec.table,
        spark.read.format("druid").load(dir))
      obs.future.value match {
        case Some(scala.util.Success(row)) =>
          row.getLong(row.fieldIndex("rows"))
        case _ => dfC.count()
      }
    }
    def runStatement(st: AsyncStatement, session: SparkSession,
                     args: Array[Any], timeoutMs: Long,
                     tsFmt: DateTimeFormatter): Unit = {
      val t0 = System.nanoTime()
      val what = st.sql.linesIterator.mkString(" ").take(120)
      try {
        if (st.cancelRequested.get())
          throw new QueryCancelled(s"query ${st.queryId} was cancelled")
        st.state = "RUNNING"
        val (pages, total) = withQueryControl(session, st.queryId, timeoutMs) {
          // the job group is registered now: re-check so a DELETE that
          // raced the ACCEPTED window can't be lost (its cancelQuery
          // found nothing in `running`, but it set the flag first)
          if (st.cancelRequested.get())
            throw new QueryCancelled(s"query ${st.queryId} was cancelled")
          val df = buildSqlDf(session,
            st.ingest.map(_.selectSql).getOrElse(st.sql), args)
          val schemaArr = mapper.createArrayNode()
          df.schema.fields.foreach { f =>
            val (nativeT, sqlT) = typeNamesOf(f.dataType)
            val c = schemaArr.addObject()
            c.put("name", f.name)
            c.put("type", sqlT)
            c.put("nativeType", nativeT)
          }
          st.schemaJson = Some(schemaArr)
          st.ingest match {
            case Some(spec) => (Vector.empty, runIngest(session, spec, df))
            case None =>
              pagedRows(df, st.resultFormat.startsWith("array"),
                statementPageRows, maxResultRows, tsFmt)
          }
        }
        st.pages = pages
        st.numTotalRows = total
        st.durationMs = (System.nanoTime() - t0) / 1000000L
        st.state = "SUCCESS"
        journalStatement(st) // durable SUCCESS envelope (best-effort)
        logQuery(st.queryId, "sql-statement", what, t0, total, "ok")
      } catch { case e: Throwable =>
        st.error = Some(e)
        st.durationMs = (System.nanoTime() - t0) / 1000000L
        st.state = e match {
          case _: QueryCancelled => "CANCELED"
          case _                 => "FAILED"
        }
        // a VirtualMachineError (OOM, StackOverflow) must NOT be
        // laundered into a FAILED envelope while the broker keeps
        // serving: its terminal state is recorded for pollers, then it
        // propagates out of the statement pool (as the route rethrows
        // it on the sync path)
        e match { case v: VirtualMachineError => throw v; case _ => () }
        logQuery(st.queryId, "sql-statement", what, t0, 0L,
          s"error:${e.getClass.getSimpleName}")
      }
      retireStatements()
    }
    // Shared submit path for the two async-SQL surfaces: the modern
    // statements API and the legacy /druid/v2/sql/task MSQ endpoint
    // (SqlTaskResource) the console's "Run" button still posts
    // ingestion to. Parses, validates, registers (CAS), and launches
    // one AsyncStatement; callers shape the reply envelope.
    def submitStatement(ex: HttpExchange, body: String,
                        extraCtxKeys: Set[String]): AsyncStatement = {
      val node = mapper.readTree(body)
      val sql0 = node.path("query").asText()
      if (sql0.isEmpty)
        throw new IllegalArgumentException(
          "SQL statements endpoint needs {\"query\": ...}")
      val args = parameterValues(node.path("parameters"))
      val ctx = node.path("context")
      validateSqlContext(ctx, extraSupported = extraCtxKeys)
      val mode = ctx.path("executionMode").asText("ASYNC")
      if (!mode.equalsIgnoreCase("ASYNC"))
        throw new IllegalArgumentException(
          s"the statements endpoint only supports executionMode ASYNC (got $mode)")
      val fmtReq = node.path("resultFormat").asText("object")
      if (!Set("object", "array", "objectLines", "arrayLines")(fmtReq))
        throw new IllegalArgumentException(
          s"unsupported statements resultFormat $fmtReq")
      val ingest = parseIngest(sql0) // loud 400 on malformed ingest
      if (ingest.isDefined && ingestRoot.isEmpty)
        throw new IllegalArgumentException(
          "this broker is read-only: INSERT/REPLACE ingestion is disabled")
      val qid = sqlQueryIdOf(ctx)
      val (session, tsFmt) =
        sessionFor(Option(ctx.path("sqlTimeZone").asText(null)))
      val timeoutMs = ctx.path("timeout").asLong(0)
      val st = new AsyncStatement(qid, sql0,
        java.time.Instant.now().toString, fmtReq, ingest)
      ingest.foreach(spec => st.dataSource = spec.table)
      // CAS registration: two concurrent submits under one id must
      // never both run — exactly one wins the slot (replacing a
      // TERMINAL predecessor atomically), the other 400s
      val prev = statements.putIfAbsent(qid, st)
      if (prev != null &&
          (!prev.terminal || !statements.replace(qid, prev, st)))
        throw new IllegalArgumentException(
          s"query id $qid is already running")
      statementOrder.add(qid)
      ex.getResponseHeaders.set("X-Druid-Query-Id", qid)
      statementPool.execute(() =>
        runStatement(st, session, args, timeoutMs, tsFmt))
      st
    }

    def statementOf(id: String): AsyncStatement =
      Option(statements.get(id)).getOrElse(
        throw new HttpError(404, s"no such query: $id", StatementError))
    route("/druid/v2/sql/statements", Seq("POST", "GET", "DELETE")) { req =>
      (req.method, req.segs) match {
        case ("POST", Nil) =>
          val st = submitStatement(req.ex, req.body, Set("executionMode"))
          Reply(statementStatusJson(st).toString)
        case ("GET", id :: Nil) => Reply(statementStatusJson(statementOf(id)).toString)
        case ("GET", id :: "results" :: Nil) =>
          val st = statementOf(id)
          if (st.state != "SUCCESS")
            throw new HttpError(400, s"query $id is in state ${st.state}; " +
              "results are available only after SUCCESS", StatementError)
          val pageParam = Option(req.ex.getRequestURI.getQuery).getOrElse("")
            .split("&").filter(_.nonEmpty).map(_.split("=", 2))
            .collectFirst { case Array("page", v) => v }
          val parsed =
            try pageParam.map(_.toLong)
            catch { case _: NumberFormatException => Some(-1L) }
          if (parsed.exists(p => p < 0 || p >= st.pages.size))
            throw new HttpError(400, s"invalid page ${pageParam.getOrElse("")} " +
              s"(query has ${st.pages.size} pages)", StatementError)
          val chosen = parsed match {
            case Some(p) => Vector(st.pages(p.toInt)._1)
            case None    => st.pages.map(_._1)
          }
          if (st.resultFormat.endsWith("Lines")) {
            val sb = new StringBuilder
            chosen.foreach(page => page.forEach(n =>
              { sb.append(n.toString).append('\n'); () }))
            Reply(sb.toString, "text/plain")
          } else {
            val out = mapper.createArrayNode()
            chosen.foreach(page => page.forEach(n => { out.add(n); () }))
            Reply(out.toString)
          }
        case ("DELETE", id :: Nil) =>
          val st = statementOf(id)
          // Druid's no-op cancel of a finished query: 200 + status
          if (st.terminal) Reply(statementStatusJson(st).toString)
          else {
            st.cancelRequested.set(true)
            cancelQuery(id)
            Reply(statementStatusJson(st).toString, status = 202)
          }
        case ("DELETE", _) => throw new HttpError(404,
          "DELETE expects /druid/v2/sql/statements/{queryId}", StatementError)
        case _ => throw new HttpError(405,
          "supported: POST /, GET /{id}, GET /{id}/results, DELETE /{id}")
      }
    }
    // Legacy MSQ submit surface: the Druid console POSTs SQL ingestion
    // (and "run as task" queries) to /druid/v2/sql/task
    // (SqlTaskResource) and expects a SqlTaskStatus {taskId, state} —
    // this predates /druid/v2/sql/statements and is still what the
    // console emits. Same machinery: the taskId IS the statement id,
    // so progress and results remain queryable at
    // /druid/v2/sql/statements/{id}. MSQ task-tuning context keys the
    // console attaches are accepted as operational (they steer real
    // MSQ's task fan-out, which has no analogue here and never changes
    // answers); semantic keys (finalizeAggregations, ...) stay loud.
    route("/druid/v2/sql/task", Seq("POST")) { req =>
      val st = submitStatement(req.ex, req.body, Set("executionMode",
        "maxNumTasks", "taskAssignment", "maxParseExceptions",
        "waitUntilSegmentsLoad", "durableShuffleStorage",
        "selectDestination"))
      val o = mapper.createObjectNode()
      o.put("taskId", st.queryId)
      // SqlTaskStatus reports RUNNING at accept time (the task is
      // queued on the statement pool; terminal states are polled)
      o.put("state", "RUNNING")
      // real Druid's SqlTaskResource replies 202 ACCEPTED at submit —
      // strict clients check the code, not just the body
      Reply(o.toString, status = 202)
    }

    route("/druid/v2/sql", Seq("POST", "DELETE")) { req =>
      (req.method, req.segs) match {
        case ("POST", _) =>
          val node = mapper.readTree(req.body)
          val sql0 = node.path("query").asText()
          if (sql0.isEmpty)
            throw new IllegalArgumentException("SQL endpoint needs {\"query\": ...}")
          val up = sql0.stripLeading().toUpperCase(java.util.Locale.ROOT)
          if (up.startsWith("INSERT") || up.startsWith("REPLACE"))
            // Druid's broker behavior: the sync endpoint rejects
            // ingestion; it belongs to the statements API
            throw new IllegalArgumentException(
              "INSERT/REPLACE statements must be submitted to " +
                "/druid/v2/sql/statements (the SQL-ingestion surface)")
          val args = parameterValues(node.path("parameters"))
          val ctx = node.path("context")
          runQuery(req.ex, sqlQueryIdOf(ctx)) {
            validateSqlContext(ctx, extraSupported = Set.empty)
            val tz = Option(ctx.path("sqlTimeZone").asText(null))
            val (session, tsFmt) = sessionFor(tz)
            val resultFormat = node.path("resultFormat").asText("object")
            val header = node.path("header").asBoolean(false)
            val typesHeader = node.path("typesHeader").asBoolean(false)
            val sqlTypesHeader = node.path("sqlTypesHeader").asBoolean(false)
            // Druid's RESULT-LEVEL cache for SQL: off by default
            // (matching druid.broker.cache.useResultLevelCache=false),
            // honored when the client opts in. Same epoch discipline as
            // the native cache — a hit never crosses a table generation
            // or a lookup edit. Callers opting in own the determinism of
            // their SQL (now()/rand() queries should not set the flag),
            // exactly the Druid contract.
            val useRlc = ctx.path("useResultLevelCache").asBoolean(false)
            QueryPlan("sql", sql0.linesIterator.mkString(" ").take(120),
              session, ctx.path("timeout").asLong(0),
              useCache = useRlc,
              populateCache =
                ctx.path("populateResultLevelCache").asBoolean(useRlc),
              // each parameter is length-prefixed and null-tagged
              // individually: args ["a|b"] vs ["a","b"] and null vs the
              // string "null" must key differently; the fields join
              // length-prefixed too, so distinct field vectors never
              // collide on one key string
              () => (Seq("sql", sql0,
                  args.map { a =>
                    if (a == null) "N" else {
                      val s = String.valueOf(a: Any)
                      s"S${s.length}:$s"
                    }
                  }.mkString("[", "", "]"), resultFormat, header.toString,
                  typesHeader.toString, sqlTypesHeader.toString,
                  tz.getOrElse("UTC"))
                  .map(x => x.length.toString + ":" + x).mkString(";"),
                cacheEpoch(referencedInSql(sql0))),
              rows => sqlResponse(buildSqlDf(session, sql0, args),
                resultFormat, header, typesHeader, sqlTypesHeader,
                maxResultRows, tsFmt, rows))
          }._1
        // Druid's SQL cancellation: DELETE /druid/v2/sql/{sqlQueryId}.
        // Multi-segment paths (e.g. an Avatica sub-path) are NOT a
        // cancel of the literal tail — they answer 405.
        case (_, id :: Nil) => cancelReply(id)
        case _ => throw notAllowed(Seq("POST"))
      }
    }
    // broker schema-discovery endpoints (pydruid et al. call these on
    // connect): the table list, and per-table dimensions/metrics split
    // the way a broker reports them (strings/arrays = dimensions,
    // numerics = metrics) — answered from the cached schemas, no scan
    route("/druid/v2/datasources", Seq("GET")) { req =>
      req.segs match {
        case Nil =>
          Reply(jsonArray(servedTables.keySet().asScala.toSeq.sorted))
        case name :: sub =>
          val (dimNames, metNames) = dimensionsAndMetrics(resolveServed(name))
          sub match {
            case Nil =>
              val o = mapper.createObjectNode()
              val dims = o.putArray("dimensions")
              dimNames.foreach(dims.add)
              val mets = o.putArray("metrics")
              metNames.foreach(mets.add)
              Reply(o.toString)
            case "dimensions" :: Nil => Reply(jsonArray(dimNames))
            case "metrics" :: Nil    => Reply(jsonArray(metNames))
            case other =>
              throw new IllegalArgumentException(
                s"datasources sub-path '${other.mkString("/")}' (use dimensions|metrics)")
          }
      }
    }
    // ---- coordinator datasource metadata (console/pydruid call these
    // on connect): names plus per-datasource segment stats for the
    // segment-backed tables under the ingest root
    /** Remove a served table from every surface: registry, global view,
      * the main session's temp view, and every live tz session's
      * bridge. Used when a coordinator drop empties a datasource.
      */
    def removeServedTable(name: String): Unit = {
      val _ = servedTables.remove(name)
      val _0 = ingestBacked.remove(name)
      val _2 = spark.catalog.dropTempView(name)
      Option(servedViews.remove(name)).foreach { g =>
        val _3 = spark.catalog.dropGlobalTempView(g)
      }
      tzSessions.forEach((_, s2) => { val _4 = s2.catalog.dropTempView(name) })
    }
    /** DELETE /druid/coordinator/v1/datasources/{ds}[/intervals/{lo}_{hi}]
      * [?kill=true]: Druid's drop flow with its real two-phase
      * semantics since deferred deletion landed — the drop MARKS
      * segments unused (tombstone: invisible to new queries, physically
      * present so in-flight reads finish), and physical reclaim happens
      * after the grace period or explicitly with `kill=true` (Druid's
      * kill task), which purges every tombstoned segment of the
      * datasource NOW — only safe when no query that planned the old
      * generation can still be running. Whole-datasource or
      * interval-contained drops through [[graft.write.Retention]]
      * (straddlers kept whole, Druid drop-rule semantics). Only
      * segment-backed tables under the ingest root; a read-only broker
      * refuses.
      */
    def coordinatorDelete(req: Request): Reply =
      (ingestRoot, req.segs) match {
        case (None, _) => throw new IllegalArgumentException(
          "this broker is read-only: coordinator drops are disabled")
        case (Some(root), name :: rest) if servedTables.containsKey(name) =>
          val dir = s"$root/$name"
          if (!new java.io.File(dir).isDirectory)
            throw new IllegalArgumentException(
              s"datasource $name is not segment-backed")
          else {
            val bounds = rest match {
              case Nil => Some((Long.MinValue, Long.MaxValue))
              case "intervals" :: iv :: Nil => iv.split("_", 2) match {
                case Array(lo, hi) =>
                  try Some((DruidTime.instant(lo), DruidTime.instant(hi)))
                  catch { case _: IllegalArgumentException => None }
                case _ => None
              }
              case _ => None
            }
            bounds match {
              case None => throw new IllegalArgumentException(
                "expected /{ds} or /{ds}/intervals/{isoLo}_{isoHi}")
              case Some((lo, hi)) =>
                val st = graft.write.Retention.dropContained(dir, lo, hi)
                val kill = Option(req.ex.getRequestURI.getQuery).exists(
                  _.split("&").contains("kill=true"))
                val purged =
                  if (kill) graft.sources.druid.SegmentCatalog
                    .purgeTombstoned(dir, graceMs = 0L)
                  else 0
                if (st.segmentsKept == 0) removeServedTable(name)
                else registerServedTable(name,
                  spark.read.format("druid").load(dir))
                val o = mapper.createObjectNode()
                o.put("numChangedSegments", st.segmentsDropped)
                o.put("rowsDropped", st.rowsDropped)
                o.put("segmentsKept", st.segmentsKept)
                if (kill) o.put("segmentsKilled", purged)
                Reply(o.toString)
            }
          }
        case (_, name :: _) => throw new HttpError(404, s"no such datasource: $name")
        case (_, Nil) => throw new HttpError(404, "DELETE needs a datasource")
      }
    /** Segment directory behind a served datasource: the druid DSv2
      * relation's root when the served DataFrame is a bare segment
      * scan, else the ingest-root convention. None for views with no
      * segment backing (they have no candidates to list).
      */
    def segmentRootOf(name: String): Option[String] = {
      val fromPlan = Option(servedTables.get(name)).flatMap { df =>
        def unwrap(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
          case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
            unwrap(s.child)
          case other => other
        }
        unwrap(df.queryExecution.analyzed) match {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            r.table match {
              case t: graft.sources.druid.DruidTable => Some(t.rootDir)
              case _ => None
            }
          case _ => None
        }
      }
      fromPlan.orElse(ingestRoot.map(r => s"$r/$name")
        .filter(_ => ingestBacked.contains(name))
        .filter(d => new java.io.File(d).isDirectory))
    }

    // ---- GET /druid/v2/candidates?datasource=X&intervals=a/b,c/d —
    // Druid's segment-candidate listing (LocatedSegmentDescriptor
    // shape). Served straight from the SAME memoized metadata the
    // planner prunes with (SegmentCatalog.metaFor + interval
    // intersection), so the listing IS the planner's pruning; the one
    // location is this broker.
    route("/druid/v2/candidates", Seq("GET")) { req =>
      val params = Option(req.ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      val name = params.getOrElse("datasource",
        throw new IllegalArgumentException(
          "candidates requires ?datasource=<name>"))
      if (!servedTables.containsKey(name))
        throw new IllegalArgumentException(s"no such datasource: $name")
      val intervals: Seq[(Long, Long)] = params.get("intervals").toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty).map(DruidTime.interval)
      val a = mapper.createArrayNode()
      segmentRootOf(name).toSeq
        .flatMap(d => graft.sources.druid.SegmentCatalog.metaFor(d))
        .filter(m => intervals.isEmpty ||
          intervals.exists { case (lo, hi) => m.endMs > lo && m.startMs < hi })
        .sortBy(m => (m.startMs, m.dir))
        .zipWithIndex.foreach { case (m, i) =>
          val o = a.addObject()
          o.put("interval", s"${isoAt(m.startMs)}/${isoAt(m.endMs)}")
          o.put("version", new java.io.File(m.dir).getName)
          o.put("partitionNumber", i)
          o.put("size", m.rows.toLong)
          val loc = o.putArray("locations").addObject()
          val hostPort = s"localhost:${server.getAddress.getPort}"
          loc.put("name", hostPort)
          loc.put("host", hostPort)
          loc.put("type", "historical")
          loc.put("priority", 0)
        }
      Reply(a.toString)
    }

    def coordinatorRoute(base: String, methods: Seq[String]): Unit =
      route(base, methods, CoordinatorError) { req =>
        (req.method, req.segs) match {
          case ("DELETE", _) => coordinatorDelete(req)
          case (_, Nil) =>
            Reply(jsonArray(servedTables.keySet().asScala.toSeq.sorted))
          case (_, name :: _) if !servedTables.containsKey(name) =>
            throw new HttpError(404, s"no such datasource: $name")
          case (_, name :: sub) =>
            lazy val backed = ingestRoot.map(r => s"$r/$name")
              .filter(d => new java.io.File(d).isDirectory)
            sub match {
              case Nil =>
                val o = mapper.createObjectNode()
                o.put("name", name)
                o.putObject("properties")
                val seg = o.putObject("segments")
                backed match {
                  case Some(d) =>
                    val metas = graft.sources.druid.SegmentCatalog.metaFor(d)
                    seg.put("count", metas.size)
                    seg.put("size", dirSize(d))
                    seg.put("rows", metas.map(_.rows.toLong).sum)
                    if (metas.nonEmpty) {
                      seg.put("minTime", isoAt(metas.map(_.startMs).min))
                      seg.put("maxTime", isoAt(metas.map(_.endMs).max))
                    }
                  case None =>
                    // a served view with no segment directory (e.g. an
                    // in-memory table): listed, zero segment stats
                    seg.put("count", 0)
                    seg.put("size", 0L)
                    seg.put("rows", 0L)
                }
                Reply(o.toString)
              case "intervals" :: Nil =>
                // Druid's interval listing: distinct served intervals,
                // descending, "lo/hi" ISO strings
                Reply(jsonArray(backed.toSeq
                  .flatMap(d => graft.sources.druid.SegmentCatalog.metaFor(d))
                  .map(m => (m.startMs, m.endMs)).distinct
                  .sortBy(-_._1)
                  .map { case (lo, hi) => s"${isoAt(lo)}/${isoAt(hi)}" }))
              case other => throw new HttpError(404,
                s"unsupported sub-path '${other.mkString("/")}'")
            }
        }
      }
    coordinatorRoute("/druid/coordinator/v1/datasources", Seq("GET", "DELETE"))
    coordinatorRoute("/druid/coordinator/v1/metadata/datasources", Seq("GET"))

    // ---- coordinator retention rules (/druid/coordinator/v1/rules) ----
    // Druid's first-matching-rule-wins retention, applied through the
    // existing whole-segment drop machinery: loadForever /
    // loadByPeriod / loadByInterval keep a matching segment,
    // dropForever / dropBeforeByPeriod / dropByInterval drop it
    // (interval drops require containment, straddlers stay — Druid
    // semantics). Single-tier shared filesystem: load rules carry no
    // replicant counts here, they are the KEEP side of the evaluation.
    // Rules persist under ingestRoot/.rules.json (atomic write,
    // reloaded at startup) and apply immediately on POST plus on every
    // auto-compact tick — this process IS the coordinator.
    val retentionRules =
      new java.util.concurrent.ConcurrentHashMap[String, ArrayNode]()
    val rulesFile = ingestRoot.map(r => java.nio.file.Paths.get(r, ".rules.json"))
    rulesFile.filter(java.nio.file.Files.isRegularFile(_)).foreach { f =>
      try {
        val n = mapper.readTree(java.nio.file.Files.readAllBytes(f))
        n.properties().forEach { e =>
          e.getValue match {
            case a: ArrayNode => retentionRules.put(e.getKey, a)
            case _            => ()
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[druid-serve] SKIPPING rules file ${f.getFileName}: ${e.getMessage}")
      }
    }
    def rulesJson(): ObjectNode = {
      val o = mapper.createObjectNode()
      retentionRules.entrySet().asScala.toSeq.sortBy(_.getKey)
        .foreach(e => o.set[ObjectNode](e.getKey, e.getValue))
      o
    }
    def persistRules(): Unit = rulesFile.foreach { f =>
      try writeAtomically(f, rulesJson())
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[druid-serve] rules persist failed: ${e.getMessage}")
      }
    }
    val knownRuleTypes = Set("loadForever", "loadByPeriod", "loadByInterval",
      "dropForever", "dropBeforeByPeriod", "dropByInterval")
    /** Throws IAE on anything a later apply pass could choke on. */
    def validateRules(a: JsonNode): Unit = {
      require(a.isArray, "rules payload must be a JSON array")
      a.elements().asScala.foreach { r =>
        val t = r.path("type").asText("")
        require(knownRuleTypes.contains(t),
          s"unknown rule type '$t' (${knownRuleTypes.toSeq.sorted.mkString(", ")})")
        if (t == "loadByPeriod" || t == "dropBeforeByPeriod") {
          val _ = DruidTime.period(r.path("period").asText(""))
        }
        if (t == "loadByInterval" || t == "dropByInterval") {
          val iv = r.path("interval").asText("")
          val (lo, hi) = DruidTime.interval(iv)
          require(lo < hi, s"interval '$iv' is empty")
        }
      }
    }
    /** First matching rule wins: Some(keep?) or None (no rule matched
      * -> kept, Druid's no-rule default on a single-tier setup).
      */
    def ruleDecision(rules: ArrayNode, m: graft.sources.druid.SegMeta,
                     nowMs: Long): Boolean = {
      // the instant one rule period before now
      def cutoff(r: JsonNode): Long =
        DruidTime.shift(nowMs, DruidTime.period(r.path("period").asText("")), -1)
      val it = rules.elements()
      while (it.hasNext) {
        val r = it.next()
        r.path("type").asText("") match {
          case "loadForever" => return true
          case "dropForever" => return false
          case "loadByPeriod" =>
            if (m.endMs > cutoff(r)) return true
          case "dropBeforeByPeriod" =>
            if (m.endMs <= cutoff(r)) return false
          case "loadByInterval" =>
            val (lo, hi) = DruidTime.interval(r.path("interval").asText(""))
            if (m.startMs < hi && m.endMs > lo) return true
          case "dropByInterval" =>
            val (lo, hi) = DruidTime.interval(r.path("interval").asText(""))
            if (m.startMs >= lo && m.endMs <= hi) return false
          case _ => () // validated at POST; foreign file entries skip
        }
      }
      true
    }
    /** Apply retention rules to one segment-backed served table; on a
      * drop the table re-registers so every endpoint serves the new
      * generation.
      */
    def applyRulesTo(name: String): Unit = ingestRoot.foreach { r =>
      val rules = Option(retentionRules.get(name))
        .orElse(Option(retentionRules.get("_default")))
      val dir = s"$r/$name"
      if (rules.exists(_.size() > 0) && new java.io.File(dir).isDirectory &&
          graft.sources.druid.SegmentCatalog.metaFor(dir).nonEmpty) {
        val nowMs = System.currentTimeMillis()
        val st = graft.write.Retention.dropWhere(dir,
          m => !ruleDecision(rules.get, m, nowMs))
        if (st.segmentsDropped > 0) {
          if (st.segmentsKept > 0)
            registerServedTable(name,
              spark.read.format("druid").load(dir))
          if (logQueries) System.err.println(
            s"[druid-serve] retention rules $name: dropped " +
              s"${st.segmentsDropped} segments (${st.rowsDropped} rows)")
        }
      }
    }
    def applyAllRules(): Unit =
      servedTables.keySet().asScala.toSeq.sorted
        // any served name with a segment directory under the ingest
        // root (explicit sqlTables entries included — they are not in
        // ingestBacked but their data is just as rule-governed)
        .filter(n => ingestRoot.exists(r =>
          new java.io.File(s"$r/$n").isDirectory)).foreach { n =>
          try applyRulesTo(n)
          catch {
            case scala.util.control.NonFatal(e) => System.err.println(
              s"[druid-serve] retention rules $n failed: ${e.getMessage}")
          }
        }
    route("/druid/coordinator/v1/rules", Seq("GET", "POST"),
        CoordinatorError) { req =>
      (req.method, req.segs.mkString("/")) match {
        case ("GET", "") => Reply(rulesJson().toString)
        case ("GET", name) =>
          Reply(Option(retentionRules.get(name))
            .getOrElse(mapper.createArrayNode()).toString)
        case (_, "") => throw notAllowed(Seq("GET", "POST"))
        case (_, name) =>
          if (ingestRoot.isEmpty) throw new IllegalArgumentException(
            "this broker is read-only: retention rules are disabled")
          val rules = mapper.readTree(req.body)
          validateRules(rules)
          retentionRules.put(name, rules.asInstanceOf[ArrayNode])
          persistRules()
          if (name == "_default") applyAllRules() else applyRulesTo(name)
          Reply("{}")
      }
    }
    // ---- auto-compaction (a coordinator duty): periodically merge the
    // undersized segments of every segment-backed table under the
    // ingest root. The catalog's pending-swap marker + atomic manifest
    // make each pass reader-atomic (SegmentCatalogSpec's three-thread
    // race spec); tables that compacted re-register so every endpoint
    // serves the new generation. The scheduler thread is a daemon and
    // each pass on an already-compact table is one manifest read.
    autoCompactSeconds.filter(_ > 0).foreach { period =>
      if (ingestRoot.isEmpty)
        System.err.println(
          "[druid-serve] --auto-compact ignored: broker has no ingest root")
      else {
        val sched = java.util.concurrent.Executors
          .newSingleThreadScheduledExecutor(daemonFactory("graft-serve-compact"))
        val _ = sched.scheduleWithFixedDelay(new Runnable {
          def run(): Unit = ingestRoot.foreach { r =>
            // retention rules first: dropping expired segments before
            // compaction keeps the compactor from merging dead data
            applyAllRules()
            Option(new java.io.File(r).listFiles()).getOrElse(Array.empty)
              .filter(d => d.isDirectory && !d.getName.startsWith("."))
              .foreach { d =>
                try {
                  val st = graft.write.Compaction.compactIncremental(
                    spark, d.getPath, compactTargetRows)
                  if (st.segmentsAfter < st.segmentsBefore) {
                    registerServedTable(d.getName,
                      spark.read.format("druid").load(d.getPath))
                    if (logQueries) System.err.println(
                      s"[druid-serve] auto-compact ${d.getName}: " +
                        s"${st.segmentsBefore} -> ${st.segmentsAfter} segments")
                  }
                } catch { case e: Exception =>
                  System.err.println(
                    s"[druid-serve] auto-compact ${d.getName} failed: ${e.getMessage}")
                }
              }
          }
        }, period, period, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    route("/druid/v1/lookups/introspect", Seq("GET")) { req =>
      req.segs match {
        case name :: tail =>
          val m = graft.sql.DruidLookups.get(name).getOrElse(
            throw new NoSuchElementException(s"lookup '$name' is not registered"))
          val json = tail match {
            case Nil =>
              val o = mapper.createObjectNode()
              m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
              o.toString
            case "keys" :: Nil   => jsonArray(m.keys.toSeq.sorted)
            case "values" :: Nil => jsonArray(m.toSeq.sortBy(_._1).map(_._2))
            case other =>
              throw new IllegalArgumentException(
                s"introspect sub-path '${other.mkString("/")}' (use keys|values)")
          }
          Reply(json)
        case Nil =>
          throw new IllegalArgumentException(
            "introspect needs /druid/v1/lookups/introspect/{name}")
      }
    }
    route("/druid/coordinator/v1/lookups/config", Seq("GET", "POST", "DELETE")) { req =>
      (req.method, req.segs) match {
        case ("GET", Nil) =>
          // tier -> [names]; this broker models a single tier
          val o = mapper.createObjectNode()
          val a = o.putArray("__default")
          graft.sql.DruidLookups.names.sorted.foreach(a.add)
          Reply(o.toString)
        case ("GET", _ :: name :: Nil) =>
          val m = graft.sql.DruidLookups.get(name).getOrElse(
            throw new NoSuchElementException(s"lookup '$name' is not registered"))
          val spec = mapper.createObjectNode()
          val fac = spec.putObject("lookupExtractorFactory")
          fac.put("type", "map")
          val mo = fac.putObject("map")
          m.toSeq.sortBy(_._1).foreach { case (k, v) => mo.put(k, v) }
          Reply(spec.toString)
        case ("POST", _ :: name :: Nil) =>
          val spec = mapper.readTree(req.body)
          val fac = spec.path("lookupExtractorFactory")
          if (fac.path("type").asText() != "map")
            throw new IllegalArgumentException(
              s"lookupExtractorFactory type '${fac.path("type").asText()}' (only 'map')")
          val entries = fac.path("map")
          if (!entries.isObject)
            throw new IllegalArgumentException("lookupExtractorFactory.map must be an object")
          val m = entries.fields().asScala.map { e =>
            if (!e.getValue.isTextual)
              throw new IllegalArgumentException(
                s"lookup value for key '${e.getKey}' must be a string, " +
                  s"got ${e.getValue.getNodeType}")
            e.getKey -> e.getValue.asText()
          }.toMap
          graft.sql.DruidLookups.register(name, m)
          Reply("""{"status":"accepted"}""")
        case ("DELETE", _ :: name :: Nil) =>
          if (graft.sql.DruidLookups.get(name).isEmpty)
            throw new NoSuchElementException(s"lookup '$name' is not registered")
          graft.sql.DruidLookups.unregister(name)
          Reply("""{"status":"deleted"}""")
        case (m, p) =>
          throw new IllegalArgumentException(
            s"$m on lookups/config/${p.mkString("/")} (use {tier}/{name})")
      }
    }
    server.start()
    server
  }

  /** `druid-tool`-style entry: serve every segment table under `root`
    * (dataSource name = subdirectory name).
    */
  def main(args: Array[String]): Unit = Settings.exitOnBadSetting(run(args))

  /** [[main]] without the exit: a bad or unknown flag throws
    * [[Settings.BadSetting]] naming it, before anything starts.
    */
  def run(args: Array[String]): Unit = args.toList match {
    case root :: rest =>
      val flags = Settings.flags("serve", rest)
      val host = flags(Settings.ServeHost)
      val spark = DruidTool.session("druid-serve")
      spark.sparkContext.setLogLevel("WARN")
      val tables = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith("."))
        .map(n => n -> spark.read.format("druid").load(s"$root/$n")).toMap
      // resolve ONLY from the discovered set: raw path concatenation
      // would let a remote dataSource name ("../../...") traverse to
      // any readable directory, and reusing the prebuilt frames skips
      // re-discovering segments on every request
      val server = start(spark,
        name => tables.getOrElse(name, throw new IllegalArgumentException(
          s"unknown dataSource '$name' (tables: ${tables.keys.toSeq.sorted.mkString(", ")})")),
        flags(Settings.ServePort), sqlTables = tables, host = host,
        maxResultRows = flags(Settings.ServeMaxRows),
        threads = flags(Settings.ServeThreads),
        logQueries = flags(Settings.ServeLogQueries),
        statementPageRows = flags(Settings.ServeStatementPageRows),
        ingestRoot = if (flags(Settings.ServeNoIngest)) None else Some(root),
        autoCompactSeconds = flags(Settings.ServeAutoCompact),
        compactTargetRows = flags(Settings.ServeCompactTargetRows),
        sysSchema = true)
      if (host != "127.0.0.1" && host != "localhost")
        System.err.println(
          s"WARNING: binding $host — the SQL endpoint executes arbitrary " +
            "Spark SQL with this process's filesystem privileges; only " +
            "expose beyond loopback on a trusted network")
      println(s"druid-serve listening on $host:${server.getAddress.getPort} " +
        s"(POST /druid/v2 native, /druid/v2/sql, /druid/v2/sql/statements), tables under $root")
      flags(Settings.ServeJdbcPort).foreach { jp =>
        val bound = JdbcEndpoint.start(spark, tables, port = jp, host = host)
        println(s"thrift JDBC endpoint on $host:$bound " +
          s"(jdbc:hive2://$host:$bound/)")
      }
      Thread.currentThread().join()
    case Nil =>
      throw new Settings.BadSetting(
        "usage: druid-serve <tablesRoot> [--port N] [--host H] " +
          "[--max-rows N] [--threads N] [--log-queries] " +
          "[--statement-page-rows N] [--no-ingest] " +
          "[--auto-compact SECONDS] [--compact-target-rows N] " +
          "[--jdbc-port N]")
  }

  /** DELETE /druid/v2[/sql]/{id}: cancel a running query. Druid
    * answers 202 Accepted whether or not the id matched a live query
    * (cancellation is inherently racy — the query may have just
    * finished); we do the same, and the cancelled request itself
    * answers the QueryInterruptedException envelope.
    */
  private def cancelReply(qid: String): Reply = {
    cancelQuery(qid)
    // the id comes off the URL — serialize through jackson, never
    // string-splice untrusted text into a JSON literal
    Reply(mapper.createObjectNode().put("cancelled", qid).toString,
      status = 202)
  }

  /** Root directory of every segment-backed relation in `df`'s plan. */
  private def druidRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.druid.DruidTable] =>
        r.table.asInstanceOf[graft.sources.druid.DruidTable].rootDir
    }.distinct

  /** A served frame's columns as a broker reports them: strings and
    * arrays are dimensions, the rest (bar `__time`) metrics.
    */
  private def dimensionsAndMetrics(df: DataFrame): (Seq[String], Seq[String]) = {
    val (dims, mets) = df.schema.fields.toSeq.filterNot(_.name == "__time")
      .partition(_.dataType match {
        case StringType | ArrayType(_, _) => true
        case _                            => false
      })
    (dims.map(_.name), mets.map(_.name))
  }

  /** Write `o` to `f` through a sibling temp file and an atomic move,
    * so a reader never sees a partial file.
    */
  private def writeAtomically(f: java.nio.file.Path, o: JsonNode): Unit = {
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(o))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def jsonArray(xs: Iterable[String]): String = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a.toString
  }

  /** Bytes under `d` (0 when it does not exist). */
  private def dirSize(d: String): Long = {
    val f = new java.io.File(d)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty)
      .map(c => dirSize(c.getPath)).sum
  }

  private def respond(ex: HttpExchange, r: Reply): Unit = {
    val bytes = r.body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", r.contentType)
    ex.sendResponseHeaders(r.status, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  // ---- result envelopes ---------------------------------------------------

  /** Iterate `df` driver-side a partition at a time (no full collect),
    * failing past `cap` rows — the guard that keeps an unlimited scan
    * or SELECT * from materializing a table on the driver.
    */
  private def cappedRows(df: DataFrame, cap: Int,
                         counted: AtomicLong): Iterator[Row] = {
    var n = 0
    df.toLocalIterator.asScala.map { r =>
      checkControl() // cancel/deadline between partition jobs
      n += 1
      counted.set(n)
      if (n > cap)
        throw new ResourceLimitExceeded(
          s"result exceeds $cap rows; add a limit or raise --max-rows")
      r
    }
  }

  private def envelope(q: JsonNode, df: DataFrame, maxResultRows: Int,
                       counted: AtomicLong): String = {
    val queryType = q.path("queryType").asText()
    val schema = df.schema
    val timeIdx = schema.fieldNames.indexOf("__time")
    def timestampOf(r: Row): Option[String] =
      if (timeIdx < 0 || r.isNullAt(timeIdx)) None
      else r.get(timeIdx) match {
        // the druid reader can surface __time as NTZ (UTC wall time)
        case t: java.sql.Timestamp => Some(isoMs.format(t.toInstant))
        case l: java.time.LocalDateTime =>
          Some(isoMs.format(l.toInstant(ZoneOffset.UTC)))
        case other => Some(String.valueOf(other))
      }
    val out: ArrayNode = mapper.createArrayNode()
    queryType match {
      case "scan" =>
        // ScanResultValue batches of `batchSize` rows (Druid's default
        // 20480): columns + events per batch, resultFormat "list"
        // (objects, Druid's default) or "compactedList" (positional
        // arrays); rows streamed, never collected
        val compact = q.path("resultFormat").asText("list") == "compactedList"
        val batchSize = math.max(1, q.path("batchSize").asInt(20480))
        cappedRows(df, maxResultRows, counted).grouped(batchSize).foreach { batch =>
          val o = out.addObject()
          o.putNull("segmentId")
          val colsArr = o.putArray("columns")
          schema.fieldNames.foreach(colsArr.add)
          val events = o.putArray("events")
          batch.foreach { r =>
            if (compact) {
              val row = events.addArray()
              val one = mapper.createObjectNode()
              fill(one, r, schema, skipTime = false)
              schema.fieldNames.foreach(n => row.add(one.get(n)))
            } else fill(events.addObject(), r, schema, skipTime = false)
          }
        }
        // no rows → one empty batch so clients still see the columns
        if (out.isEmpty) {
          val o = out.addObject()
          o.putNull("segmentId")
          val colsArr = o.putArray("columns")
          schema.fieldNames.foreach(colsArr.add)
          o.putArray("events")
        }
      case _ =>
        // aggregate envelopes: result sets are grouped/limited, small
        // by construction, but the cap still backstops a groupBy on a
        // high-cardinality dimension
        val rows = cappedRows(df, maxResultRows, counted).toArray
        queryType match {
          case "timeseries" =>
            rows.foreach { r =>
              val o = out.addObject()
              timestampOf(r) match {
                case Some(t) => o.put("timestamp", t)
                case None => o.putNull("timestamp")
              }
              fill(o.putObject("result"), r, schema, skipTime = true)
            }
          case "groupBy" =>
            rows.foreach { r =>
              val o = out.addObject()
              o.put("version", "v1")
              timestampOf(r) match {
                case Some(t) => o.put("timestamp", t)
                case None => o.putNull("timestamp")
              }
              fill(o.putObject("event"), r, schema, skipTime = true)
            }
          case "topN" | "search" =>
            // one entry per granularity bucket (rows arrive
            // bucket-ordered from the compiler; granularity "all" is
            // the single None-timestamp group); no rows → empty array
            // like Druid, not a phantom bucket entry. search shares
            // the exact envelope: {"timestamp", "result": [hits]}
            var current: Option[Option[String]] = None
            var res: ArrayNode = null
            rows.foreach { r =>
              val bucket = timestampOf(r)
              if (!current.contains(bucket)) {
                current = Some(bucket)
                val o = out.addObject()
                bucket match {
                  case Some(t) => o.put("timestamp", t)
                  case None => o.putNull("timestamp")
                }
                res = o.putArray("result")
              }
              fill(res.addObject(), r, schema, skipTime = true)
            }
          case "timeBoundary" =>
            // Druid: one entry, timestamp = the min bound (or the
            // single requested bound), result = the ISO bounds
            rows.headOption.foreach { r =>
              val o = out.addObject()
              val res = mapper.createObjectNode()
              fill(res, r, schema, skipTime = false)
              val t = Option(res.get("minTime")).filterNot(_.isNull)
                .orElse(Option(res.get("maxTime")).filterNot(_.isNull))
              t match {
                case Some(v) => o.put("timestamp", v.asText())
                case None => o.putNull("timestamp")
              }
              o.set[ObjectNode]("result", res)
            }
          case _ =>
            rows.foreach(r => fill(out.addObject(), r, schema, skipTime = false))
        }
    }
    out.toString
  }

  /** `EXPLAIN PLAN FOR <query>` detection (Druid's spelling, not
    * Spark's): returns the inner query when the statement is an
    * explain. Case-insensitive, leading whitespace tolerated.
    */
  private def explainPlanFor(sql: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("^\\s*EXPLAIN\\s+PLAN\\s+FOR\\s+(.+)$",
        java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
      .matcher(sql)
    if (m.matches()) Some(m.group(1)) else None
  }

  /** Druid SQL `parameters` → values for Spark's NATIVE positional
    * parameterized SQL (`spark.sql(text, args)`), which binds `?`
    * through the parser itself — no textual substitution, so string
    * escaping, quote tracking, and comment handling are the lexer's
    * problem, not ours, and injection through parameter values is
    * structurally impossible. Values are parsed STRICTLY per declared
    * type: an unparseable value fails loudly (400) like Druid, never
    * silently binds a zero.
    */
  private def parameterValues(params: JsonNode): Array[Any] = {
    if (params.isMissingNode || params.isNull || !params.elements().hasNext)
      return Array.empty
    def bad(what: String, v: JsonNode) =
      throw new IllegalArgumentException(s"parameter value $v is not a $what")
    params.elements().asScala.map { p =>
      val v = p.path("value")
      val t = p.path("type").asText("VARCHAR").toUpperCase
      if (v.isNull || v.isMissingNode) null
      else t match {
        case "BIGINT" | "INTEGER" | "SMALLINT" | "TINYINT" =>
          if (v.isIntegralNumber) v.asLong()
          else if (v.isTextual)
            try java.lang.Long.parseLong(v.asText().trim)
            catch { case _: NumberFormatException => bad(t, v) }
          else bad(t, v)
        case "DOUBLE" | "FLOAT" | "REAL" | "DECIMAL" =>
          if (v.isNumber) v.asDouble()
          else if (v.isTextual)
            try java.lang.Double.parseDouble(v.asText().trim)
            catch { case _: NumberFormatException => bad(t, v) }
          else bad(t, v)
        case "BOOLEAN" =>
          if (v.isBoolean) v.asBoolean()
          else if (v.isTextual && Set("true", "false")(v.asText().toLowerCase))
            v.asText().toLowerCase == "true"
          else bad(t, v)
        case "TIMESTAMP" =>
          try new java.sql.Timestamp(DruidTime.instant(v.asText()))
          catch { case _: IllegalArgumentException =>
            try java.sql.Timestamp.valueOf(v.asText())
            catch { case _: IllegalArgumentException => bad(t, v) } }
        case "DATE" =>
          try java.sql.Date.valueOf(v.asText())
          catch { case _: IllegalArgumentException => bad(t, v) }
        case _ => v.asText()
      }
    }.toArray
  }

  // the (Spark context, sorted table names) the information_schema
  // views list now; read and written only under its own monitor
  private var infoSchemaOf: Option[(AnyRef, String)] = None
  private val infoSchemaLock = new Object

  /** Druid's INFORMATION_SCHEMA.TABLES/COLUMNS as in-memory-catalog
    * views over the served tables — the first thing BI tools (and
    * JDBC-ish clients) query on connect. Metadata-only, no scans.
    *
    * The views live in the catalog every session of a Spark context
    * shares, so the guard is what that catalog's views list now, not
    * the session asking: a broker registers them again only when
    * another table set (another broker's, any session's) replaced
    * them since. `infoSchemaOf` is set only after both views exist, so
    * a failed CREATE is retried by the next request. Serialized: CREATE
    * OR REPLACE VIEW is exists-check-then-create inside Spark, so two
    * concurrent first requests could throw TableAlreadyExists at one
    * of them. Table names come from directory listings, so they're
    * quoted into the VALUES literals defensively.
    */
  private def registerInformationSchema(
      spark: SparkSession, sqlTables: Map[String, DataFrame]): Unit =
    if (sqlTables.nonEmpty) infoSchemaLock.synchronized {
      val names = sqlTables.keys.toSeq.sorted.mkString(",")
      if (!infoSchemaOf.exists { case (sc, n) => (sc eq spark.sparkContext) && n == names }) {
        def q(s: String) = "'" + s.replace("'", "''") + "'"
        spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")
        val tableRows = sqlTables.keys.toSeq.sorted
          .map(n => s"('druid', 'druid', ${q(n)}, 'TABLE', 'NO', 'NO')")
          .mkString(", ")
        spark.sql(s"""CREATE OR REPLACE VIEW information_schema.tables
          (TABLE_CATALOG, TABLE_SCHEMA, TABLE_NAME, TABLE_TYPE,
           IS_JOINABLE, IS_BROADCAST)
          AS SELECT * FROM VALUES $tableRows""")
        val columnRows = sqlTables.toSeq.sortBy(_._1).flatMap { case (n, df) =>
          df.schema.fields.zipWithIndex.map { case (f, i) =>
            s"('druid', 'druid', ${q(n)}, ${q(f.name)}, ${i + 1}, " +
              s"${q(typeNamesOf(f.dataType)._2)}, " +
              s"'${if (f.nullable) "YES" else "NO"}')"
          }
        }.mkString(", ")
        spark.sql(s"""CREATE OR REPLACE VIEW information_schema.columns
          (TABLE_CATALOG, TABLE_SCHEMA, TABLE_NAME, COLUMN_NAME,
           ORDINAL_POSITION, DATA_TYPE, IS_NULLABLE)
          AS SELECT * FROM VALUES $columnRows""")
        infoSchemaOf = Some((spark.sparkContext, names))
      }
    }

  /** Spark type -> (Druid type name, SQL type name) for the
    * typesHeader/sqlTypesHeader rows.
    */
  private def typeNamesOf(dt: DataType): (String, String) = dt match {
    case LongType         => ("LONG", "BIGINT")
    case IntegerType      => ("LONG", "INTEGER")
    case DoubleType       => ("DOUBLE", "DOUBLE")
    case FloatType        => ("FLOAT", "FLOAT")
    case BooleanType      => ("LONG", "BOOLEAN")
    case StringType       => ("STRING", "VARCHAR")
    case TimestampType | TimestampNTZType => ("LONG", "TIMESTAMP")
    case DateType         => ("LONG", "DATE")
    case BinaryType       => ("COMPLEX", "OTHER")
    case ArrayType(e, _)  => (s"ARRAY<${typeNamesOf(e)._1}>", "ARRAY")
    case other            => ("COMPLEX", other.sql)
  }

  /** A parsed Druid SQL-ingestion statement (`INSERT INTO t SELECT …
    * PARTITIONED BY g [CLUSTERED BY cols]` / `REPLACE INTO t OVERWRITE
    * ALL|WHERE cond SELECT … PARTITIONED BY g`, the MSQ statements-API
    * surface). `granularity` is the writer's segmentGranularity
    * (None = ALL time → one undivided segment interval).
    */
  private[cli] final case class IngestSpec(table: String, selectSql: String,
                                      replaceAll: Boolean,
                                      replaceWhere: Option[String],
                                      granularity: Option[String],
                                      clusterBy: Seq[String])

  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+(\S+)\s+((?:SELECT|WITH)\b.+?)\s+PARTITIONED\s+BY\s+(.+?)(?:\s+CLUSTERED\s+BY\s+(.+?))?\s*""".r
  private val ReplaceRe =
    """(?is)\s*REPLACE\s+INTO\s+(\S+)\s+OVERWRITE\s+(?:(ALL)|WHERE\s+(.+?))\s+((?:SELECT|WITH)\b.+?)\s+PARTITIONED\s+BY\s+(.+?)(?:\s+CLUSTERED\s+BY\s+(.+?))?\s*""".r

  /** PARTITIONED BY clause → writer segmentGranularity (None = ALL):
    * a granularity name, FLOOR(__time TO <name>), or TIME_FLOOR(__time,
    * '<period>') of a period that has a name.
    */
  private[cli] def parsePartitionedBy(p: String): Option[String] = {
    val up = p.trim.stripSuffix(";").trim
      .toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val Floor = """FLOOR\s*\(\s*__TIME\s+TO\s+(\w+)\s*\)""".r
    val TimeFloor = """TIME_FLOOR\s*\(\s*__TIME\s*,\s*'([^']*)'\s*\)""".r
    val names = DruidTime.granularityNames
    val gran = up match {
      case "ALL" | "ALL TIME" => return None
      case Floor(g) => names.map(_._1).find(_.equalsIgnoreCase(g))
      case TimeFloor(per) =>
        scala.util.Try(DruidTime.period(per)).toOption.flatMap(DruidTime.granularityName)
      case g => names.map(_._1).find(_.equalsIgnoreCase(g))
    }
    gran.orElse(throw new IllegalArgumentException(
      s"unsupported PARTITIONED BY '$up' (supported: ALL [TIME], a granularity " +
        names.map(_._1.toUpperCase(java.util.Locale.ROOT)).mkString("|") +
        ", FLOOR(__time TO <granularity>), TIME_FLOOR(__time, '<period>') for the periods " +
        names.map(_._2).mkString("|") + ")"))
  }

  /** The dataSource name comes off the wire and becomes a directory
    * name — restrict it hard so it can never traverse paths.
    */
  private[cli] def cleanTableName(raw: String): String = {
    val t = raw.trim.stripPrefix("`").stripSuffix("`")
      .stripPrefix("\"").stripSuffix("\"")
    if (!t.matches("[A-Za-z0-9_][A-Za-z0-9_\\-]*"))
      throw new IllegalArgumentException(
        s"invalid ingestion dataSource name '$t'")
    t
  }

  /** Parse a Druid SQL-ingestion statement; None for plain queries.
    * A statement that STARTS like ingestion but does not parse is a
    * loud error (a silently misrouted INSERT would run as a Spark SQL
    * INSERT against a temp view, or vanish).
    */
  private[cli] def parseIngest(sql: String): Option[IngestSpec] = {
    val up = sql.stripLeading().toUpperCase(java.util.Locale.ROOT)
    if (!up.startsWith("INSERT") && !up.startsWith("REPLACE")) return None
    def clusters(c: String): Seq[String] =
      if (c == null) Seq.empty
      else c.trim.stripSuffix(";").split(",").toSeq.map(
        _.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
    // clause boundaries are found by (lazy) regex, which can split
    // INSIDE a subquery or a string literal (`WHERE x IN (SELECT …)`
    // splits the condition at the inner SELECT; `PARTITIONED BY`
    // inside a SELECT-list literal splits the SELECT early). Any such
    // mis-split leaves a fragment with unbalanced parens/quotes —
    // reject it LOUDLY instead of letting the fragments fail later
    // with a confusing expression-parse error.
    def checkBalanced(frag: String, what: String): Unit = {
      var depth = 0
      var quote: Char = 0
      var i = 0
      var bad = false
      while (i < frag.length && !bad) {
        val ch = frag.charAt(i)
        if (quote != 0) { if (ch == quote) quote = 0 }
        else ch match {
          case '\'' | '"' => quote = ch
          case '('        => depth += 1
          case ')'        => depth -= 1; if (depth < 0) bad = true
          case _          =>
        }
        i += 1
      }
      if (bad || depth != 0 || quote != 0) throw new IllegalArgumentException(
        s"cannot parse ingestion statement: the $what has unbalanced " +
          "parentheses/quotes after clause splitting — subqueries in " +
          "OVERWRITE WHERE and clause keywords inside string literals " +
          "are not supported; use a simple __time range condition")
    }
    // subqueries in OVERWRITE WHERE are rejected explicitly: the
    // condition feeds the interval-scoped overwrite's expression
    // parser, which cannot evaluate them — reject here with a clear
    // message instead of a confusing downstream parse error. Scanned
    // outside string literals so a value like 'select' stays legal.
    def rejectSubquery(cond: String): Unit = {
      var quote: Char = 0
      var i = 0
      while (i < cond.length) {
        val ch = cond.charAt(i)
        if (quote != 0) { if (ch == quote) quote = 0; i += 1 }
        else if (ch == '\'' || ch == '"') { quote = ch; i += 1 }
        else {
          val rest = cond.substring(i)
          val up = rest.take(7).toUpperCase(java.util.Locale.ROOT)
          val boundaryBefore = i == 0 ||
            !Character.isLetterOrDigit(cond.charAt(i - 1))
          def isWord(w: String): Boolean = boundaryBefore &&
            up.startsWith(w) && (rest.length == w.length ||
              !Character.isLetterOrDigit(rest.charAt(w.length)))
          if (isWord("SELECT") || isWord("WITH"))
            throw new IllegalArgumentException(
              "OVERWRITE WHERE supports simple __time range conditions " +
                "only — subqueries (SELECT/WITH) are not supported")
          i += 1
        }
      }
    }
    sql match {
      case InsertRe(t, sel, part, clust) =>
        checkBalanced(sel, "SELECT")
        Some(IngestSpec(cleanTableName(t), sel, replaceAll = false,
          None, parsePartitionedBy(part), clusters(clust)))
      case ReplaceRe(t, all, cond, sel, part, clust) =>
        Option(cond).foreach { c =>
          checkBalanced(c, "OVERWRITE WHERE condition")
          rejectSubquery(c)
        }
        checkBalanced(sel, "SELECT")
        Some(IngestSpec(cleanTableName(t), sel,
          replaceAll = all != null, Option(cond).map(_.trim),
          parsePartitionedBy(part), clusters(clust)))
      case _ => throw new IllegalArgumentException(
        "malformed ingestion statement: expected INSERT INTO <table> " +
          "SELECT ... PARTITIONED BY <g> [CLUSTERED BY cols] or " +
          "REPLACE INTO <table> OVERWRITE ALL|WHERE <cond> SELECT ... " +
          "PARTITIONED BY <g>")
    }
  }

  /** One async statements-API query (Druid's `/druid/v2/sql/statements/`,
    * SqlStatementState lifecycle ACCEPTED → RUNNING → SUCCESS / FAILED /
    * CANCELED). Results are serialized ONCE on the worker thread into
    * per-page JSON row nodes (bounded by the same maxResultRows cap as
    * the sync endpoint); status/results GETs only read these fields.
    */
  private final class AsyncStatement(val queryId: String,
                                     val sql: String,
                                     val createdAt: String,
                                     val resultFormat: String,
                                     val ingest: Option[IngestSpec] = None) {
    @volatile var state: String = "ACCEPTED"
    @volatile var durationMs: Long = -1L
    @volatile var schemaJson: Option[ArrayNode] = None
    /** (page row nodes, serialized byte size) per page. */
    @volatile var pages: Vector[(ArrayNode, Long)] = Vector.empty
    @volatile var numTotalRows: Long = 0L
    @volatile var dataSource: String = "__query_select"
    @volatile var error: Option[Throwable] = None
    val cancelRequested = new java.util.concurrent.atomic.AtomicBoolean(false)
    def terminal: Boolean =
      state == "SUCCESS" || state == "FAILED" || state == "CANCELED"
  }

  /** Rows of `df` as JSON nodes (row objects for `object*` formats,
    * row arrays for `array*`), split into pages of `pageRows` — the
    * statements API's page structure, sized so a results GET answers
    * one bounded chunk. Returns (pages, totalRows).
    */
  private def pagedRows(df: DataFrame, arrayRows: Boolean, pageRows: Int,
                        maxResultRows: Int, tsFmt: DateTimeFormatter)
      : (Vector[(ArrayNode, Long)], Long) = {
    val schema = df.schema
    val names = schema.fieldNames
    val counted = new AtomicLong()
    val rows = cappedRows(df, maxResultRows, counted)
    val pages = Vector.newBuilder[(ArrayNode, Long)]
    var cur = mapper.createArrayNode()
    var total = 0L
    def flush(): Unit = if (cur.size() > 0) {
      pages += ((cur, cur.toString.getBytes(UTF_8).length.toLong))
      cur = mapper.createArrayNode()
    }
    rows.foreach { r =>
      val o = mapper.createObjectNode()
      fill(o, r, schema, skipTime = false, tsFmt)
      if (arrayRows) { val a = cur.addArray(); names.foreach(n => a.add(o.get(n))) }
      else cur.add(o)
      total += 1
      if (cur.size() >= pageRows) flush()
    }
    flush()
    (pages.result(), total)
  }

  /** The SQL endpoint's response in one of Druid's resultFormat
    * variants. `tsFmt` renders timestamps in the request's
    * sqlTimeZone (UTC by default).
    */
  private def sqlResponse(df: DataFrame, fmt: String, header: Boolean,
                          typesHeader: Boolean, sqlTypesHeader: Boolean,
                          maxResultRows: Int, tsFmt: DateTimeFormatter,
                          counted: AtomicLong): Reply = {
    val schema = df.schema
    val names = schema.fieldNames
    def rowObject(r: Row): ObjectNode = {
      val o = mapper.createObjectNode()
      fill(o, r, schema, skipTime = false, tsFmt)
      o
    }
    val rows = cappedRows(df, maxResultRows, counted)
    val types = schema.fields.map(f => typeNamesOf(f.dataType))
    // object-format header value: null, or the requested type info
    def objectHeader(h: ObjectNode): Unit =
      names.zip(types).foreach { case (n, (dt, st)) =>
        if (!typesHeader && !sqlTypesHeader) h.putNull(n)
        else {
          val o = h.putObject(n)
          if (typesHeader) o.put("type", dt)
          if (sqlTypesHeader) o.put("sqlType", st)
        }
      }
    fmt match {
      case "object" | "array" =>
        val out = mapper.createArrayNode()
        if (header) {
          if (fmt == "array") {
            val h = out.addArray(); names.foreach(h.add)
            if (typesHeader) { val t = out.addArray(); types.foreach(x => t.add(x._1)) }
            if (sqlTypesHeader) { val t = out.addArray(); types.foreach(x => t.add(x._2)) }
          } else objectHeader(out.addObject())
        }
        rows.foreach { r =>
          if (fmt == "array") {
            val one = rowObject(r)
            val a = out.addArray()
            names.foreach(n => a.add(one.get(n)))
          } else out.add(rowObject(r))
        }
        Reply(out.toString)
      case "objectLines" | "arrayLines" =>
        val sb = new StringBuilder
        if (header) {
          if (fmt == "arrayLines") {
            val h = mapper.createArrayNode(); names.foreach(h.add)
            sb.append(h.toString).append('\n')
            if (typesHeader) {
              val t = mapper.createArrayNode(); types.foreach(x => t.add(x._1))
              sb.append(t.toString).append('\n')
            }
            if (sqlTypesHeader) {
              val t = mapper.createArrayNode(); types.foreach(x => t.add(x._2))
              sb.append(t.toString).append('\n')
            }
          } else {
            val h = mapper.createObjectNode(); objectHeader(h)
            sb.append(h.toString).append('\n')
          }
        }
        rows.foreach { r =>
          val node: JsonNode =
            if (fmt == "arrayLines") {
              val one = rowObject(r)
              val a = mapper.createArrayNode()
              names.foreach(n => a.add(one.get(n)))
              a
            } else rowObject(r)
          sb.append(node.toString).append('\n')
        }
        sb.append('\n') // Druid terminates line formats with a blank line
        Reply(sb.toString, "text/plain")
      case "csv" =>
        def cell(n: JsonNode): String = {
          val s =
            if (n == null || n.isNull) ""
            else if (n.isTextual) n.asText()
            else n.toString
          if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
            "\"" + s.replace("\"", "\"\"") + "\""
          else s
        }
        val sb = new StringBuilder
        if (header) {
          sb.append(names.map(n =>
            cell(mapper.getNodeFactory.textNode(n))).mkString(",")).append('\n')
          if (typesHeader) sb.append(types.map(_._1).mkString(",")).append('\n')
          if (sqlTypesHeader) sb.append(types.map(_._2).mkString(",")).append('\n')
        }
        rows.foreach { r =>
          val one = rowObject(r)
          sb.append(names.map(n => cell(one.get(n))).mkString(",")).append('\n')
        }
        sb.append('\n')
        Reply(sb.toString, "text/csv")
      case other =>
        throw new IllegalArgumentException(
          s"resultFormat '$other' (supported: object, array, objectLines, arrayLines, csv)")
    }
  }

  /** One value → JsonNode, dispatching on the DECLARED Spark type (so
    * nested arrays recurse and every element type gets the same
    * rendering as its scalar twin: timestamps via `tsFmt`, binary as
    * base64, narrow numerics as numbers).
    */
  private def jsonValueOf(dt: DataType, v: Any,
                          tsFmt: DateTimeFormatter): JsonNode = {
    val nf = mapper.getNodeFactory
    if (v == null) return nf.nullNode()
    dt match {
      case LongType      => nf.numberNode(v.asInstanceOf[Long])
      case IntegerType   => nf.numberNode(v.asInstanceOf[Int])
      case ShortType     => nf.numberNode(v.asInstanceOf[Short].toInt)
      case ByteType      => nf.numberNode(v.asInstanceOf[Byte].toInt)
      case DoubleType    => nf.numberNode(v.asInstanceOf[Double])
      case FloatType     => nf.numberNode(v.asInstanceOf[Float])
      case _: DecimalType => nf.numberNode(v.asInstanceOf[java.math.BigDecimal])
      case BooleanType   => nf.booleanNode(v.asInstanceOf[Boolean])
      case StringType    => nf.textNode(v.asInstanceOf[String])
      case TimestampType =>
        nf.textNode(tsFmt.format(v.asInstanceOf[java.sql.Timestamp].toInstant))
      case TimestampNTZType => // druid reader round-trips NTZ (UTC wall time)
        nf.textNode(tsFmt.format(
          v.asInstanceOf[java.time.LocalDateTime].toInstant(ZoneOffset.UTC)))
      case BinaryType => // mergeable sketch blobs etc. — base64, like Druid
        nf.textNode(java.util.Base64.getEncoder
          .encodeToString(v.asInstanceOf[Array[Byte]]))
      case ArrayType(et, _) =>
        // Druid ARRAY<...> results are JSON arrays, not a stringified
        // Seq — recursing keeps nested arrays/timestamps/binary right
        val a = mapper.createArrayNode()
        v.asInstanceOf[scala.collection.Seq[Any]]
          .foreach(e => a.add(jsonValueOf(et, e, tsFmt)))
        a
      case _ => nf.textNode(String.valueOf(v))
    }
  }

  private def fill(o: ObjectNode, r: Row, schema: StructType,
                   skipTime: Boolean,
                   tsFmt: DateTimeFormatter = isoMs): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!(skipTime && f.name == "__time")) {
        if (r.isNullAt(i)) o.putNull(f.name)
        else o.set[ObjectNode](f.name, jsonValueOf(f.dataType, r.get(i), tsFmt))
      }
    }
}
