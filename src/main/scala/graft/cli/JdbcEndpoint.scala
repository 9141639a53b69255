package graft.cli

import java.net.{InetSocketAddress, ServerSocket, Socket}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC access to the served tables — the client path the reference's
  * Avatica sub-endpoint exists for (druid's `/druid/v2/sql/avatica`;
  * the reference repo targets the HTTP SQL surface only). Rather than
  * hand-building Avatica's JSON-RPC wire with no client available to
  * validate against, this serves the SAME need through Spark's own
  * HiveServer2-protocol thrift endpoint
  * ([[org.apache.spark.sql.hive.thriftserver.HiveThriftServer2]]),
  * which ships with the Spark distribution TOGETHER with a real
  * `hive-jdbc` client driver — so the endpoint is validated end to end
  * by an actual `java.sql.DriverManager` connection in JdbcSpec, not
  * by self-written wire fixtures. A `beeline`/BI-tool user points at
  * `jdbc:hive2://host:port/` and queries every served table.
  *
  * Semantics:
  *  - The thrift server runs on a CLONED session (shared SparkContext
  *    + catalog, isolated SQLConf) — Spark's statement operation
  *    flips `spark.sql.datetime.java8API.enabled` on the session it
  *    executes in, and a client `SET` mutates session state, so
  *    serving directly on the caller's session would silently change
  *    the caller's timestamp row representation after the first JDBC
  *    query (caught by a leaked-Instant test failure; the broker's
  *    per-timezone child sessions exist for the same reason). Served
  *    tables register as TEMP VIEWS on that serving session, and the
  *    server runs with `spark.sql.hive.thriftServer.singleSession
  *    =true` so every JDBC connection shares the serving session —
  *    the documented Spark switch for exactly this shape. The full
  *    logical plan rides the view, so segment pushdown (pruning,
  *    bitmap row selection, metadata aggregates) is identical to the
  *    library path.
  *  - The Druid SQL compat layer (EARLIEST/LATEST, MV_*, TIME_*,
  *    LOOKUP, the DS_* sketch family) is registered on the host
  *    session before start, so JDBC clients get the same dialect
  *    surface as the HTTP SQL endpoint.
  *  - HiveServer2 is a JVM SINGLETON (static instance state inside
  *    Hive's server classes), so `start` starts it once and later
  *    calls re-register tables on the running endpoint and return the
  *    same port. `stop` is deliberately absent for the same reason.
  *
  * SECURITY: same posture as the HTTP SQL endpoint — the endpoint
  * executes arbitrary Spark SQL with this process's filesystem
  * privileges (a client `SET` mutates the serving session, never the
  * caller's); binds 127.0.0.1 unless the caller opts into another
  * interface.
  */
object JdbcEndpoint {

  @volatile private var running: Option[(SparkSession, Int)] = None

  /** Start (or reuse) the thrift JDBC endpoint and expose `tables` as
    * temp views on the serving session. Returns the bound port.
    * `port` 0 probes a free ephemeral port (HiveServer2 cannot report
    * a 0-bind back).
    */
  def start(spark: SparkSession, tables: Map[String, DataFrame],
            port: Int = 0, host: String = "127.0.0.1"): Int =
    synchronized {
      // serving-session isolation: shared context + catalog, own
      // SQLConf — JDBC-side conf mutation cannot leak into the caller
      val serve = running.map(_._1).getOrElse(spark.newSession())
      // served tables arrive as global temp views, so no druid-table
      // resolution installs graft on this session by itself
      graft.sql.GraftExtensions.install(serve)
      // global temp views are the supported cross-session channel (the
      // full logical plan rides them, so pushdown survives); a plain
      // temp view on the serving session gives JDBC clients the bare
      // name without the global_temp qualifier
      tables.foreach { case (n, df) =>
        df.createOrReplaceGlobalTempView(n)
        serve.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$n` " +
          s"AS SELECT * FROM global_temp.`$n`")
      }
      running match {
        case Some((_, p)) =>
          if (port != 0 && port != p)
            System.err.println(s"[jdbc] WARNING: endpoint already bound " +
              s"on port $p (JVM singleton); requested port $port ignored")
          p
        case None =>
          val p = if (port != 0) port else freePort(host)
          // HiveServer2 binds its acceptor on a background thread, so a
          // bind failure there is SILENT — and the liveness poll below
          // would then connect to whatever foreign process owns the
          // port and report success. Prove the port is bindable by US
          // first (closed again immediately; the window between this
          // and HiveServer2's own bind is the unavoidable TOCTOU, but
          // an already-occupied port now fails loudly here).
          try new ServerSocket() {
            setReuseAddress(true)
            bind(new InetSocketAddress(host, p))
          }.close()
          catch { case e: java.io.IOException =>
            sys.error(s"thrift JDBC endpoint: port $host:$p is not " +
              s"bindable (already in use?): $e")
          }
          // JDBC sessions must share the SERVING session's temp views —
          // read dynamically by SparkSQLSessionManager.openSession from
          // that session's SQLConf. The key is registered static
          // (normally fixed at session build), so it goes in through
          // SQLConf directly — the session already exists by the time
          // an embedded endpoint starts.
          serve.sessionState.conf.setConfString(
            "spark.sql.hive.thriftServer.singleSession", "true")
          // HiveConf.applySystemProperties is the documented override
          // channel for an embedded HiveServer2
          System.setProperty("hive.server2.thrift.port", p.toString)
          System.setProperty("hive.server2.thrift.bind.host", host)
          System.setProperty("hive.server2.transport.mode", "binary")
          org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
            .startWithContext(serve.sqlContext)
          awaitListening(host, p)
          running = Some((serve, p))
          p
      }
    }

  private def freePort(host: String): Int = {
    val s = new ServerSocket()
    try { s.bind(new InetSocketAddress(host, 0)); s.getLocalPort }
    finally s.close()
  }

  /** HiveServer2 starts its thrift acceptor on a background thread;
    * poll until the socket accepts so callers never race the bind.
    */
  private def awaitListening(host: String, port: Int,
                             timeoutMs: Long = 30000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var up = false
    while (!up) {
      try { new Socket(host, port).close(); up = true }
      catch {
        case _: java.io.IOException =>
          if (System.nanoTime() > deadline)
            sys.error(s"thrift JDBC endpoint did not bind $host:$port " +
              s"within ${timeoutMs}ms")
          Thread.sleep(100)
      }
    }
  }
}
