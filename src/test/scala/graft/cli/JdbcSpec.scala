package graft.cli

import java.nio.file.Files
import java.sql.{Connection, DriverManager, Types}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The JDBC endpoint is validated with the REAL hive-jdbc client that
  * ships in the Spark distribution — `java.sql.DriverManager` opens a
  * genuine thrift connection, so these tests exercise the same wire a
  * beeline or BI-tool user would, not hand-written protocol fixtures.
  * The table under test is a real druid SEGMENT table (written through
  * the DSv2 sink), so results coming back over JDBC have ridden the
  * segment reader end to end.
  */
class JdbcSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val segDir: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-jdbc").toString + "/events"
    Seq(
      ("2024-01-01 01:00:00", "click", 1L, 10.0),
      ("2024-01-01 22:00:00", "view", 2L, 20.0),
      ("2024-01-02 01:00:00", "click", 3L, 30.0),
      ("2024-01-02 12:00:00", "click", 1L, 40.0),
      ("2024-01-03 01:00:00", "view", 2L, 50.0))
      .toDF("t", "event_type", "user_id", "value")
      .select(to_timestamp(col("t")).as("__time"), col("event_type"),
              col("user_id"), col("value"))
      .write.format("druid").mode("overwrite")
      .option("segmentGranularity", "day").save(out)
    out
  }

  private lazy val port: Int = JdbcEndpoint.start(spark, Map(
    "jdbc_events" -> spark.read.format("druid").load(segDir)))

  private def withConn[A](body: Connection => A): A = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val conn = DriverManager.getConnection(
      s"jdbc:hive2://127.0.0.1:$port/", "graft", "")
    try body(conn) finally conn.close()
  }

  test("hive-jdbc client aggregates a druid segment table") {
    withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT event_type, count(*) AS c, sum(value) AS s " +
          "FROM jdbc_events GROUP BY event_type ORDER BY event_type")
      val got = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
        .toList
      assert(got === List(("click", 3L, 80.0), ("view", 2L, 70.0)))
    }
  }

  test("prepared statement binds positional parameters") {
    withConn { conn =>
      val ps = conn.prepareStatement(
        "SELECT count(*) FROM jdbc_events WHERE user_id = ?")
      ps.setLong(1, 1L)
      val rs = ps.executeQuery()
      assert(rs.next() && rs.getLong(1) === 2L)
    }
  }

  test("DatabaseMetaData lists the served view and its columns") {
    withConn { conn =>
      val md = conn.getMetaData
      val tables = Iterator.continually(md.getTables(null, null, "jdbc_events", null))
        .take(1).flatMap(rs => Iterator.continually(rs).takeWhile(_.next())
          .map(_.getString("TABLE_NAME"))).toList
      assert(tables.contains("jdbc_events"))
      val cols = {
        val rs = md.getColumns(null, null, "jdbc_events", null)
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString("COLUMN_NAME"), r.getInt("DATA_TYPE"))).toList
      }
      assert(cols.map(_._1).toSet ===
        Set("__time", "event_type", "user_id", "value"))
      assert(cols.toMap.apply("user_id") === Types.BIGINT)
      assert(cols.toMap.apply("value") === Types.DOUBLE)
    }
  }

  test("druid SQL compat dialect is available over JDBC") {
    withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT TIME_FORMAT(MAX(__time), 'yyyy-MM-dd') FROM jdbc_events")
      assert(rs.next() && rs.getString(1) === "2024-01-03")
    }
  }

  test("result set metadata carries Spark types") {
    withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT user_id, value, event_type FROM jdbc_events LIMIT 1")
      val m = rs.getMetaData
      assert(m.getColumnCount === 3)
      assert(m.getColumnType(1) === Types.BIGINT)
      assert(m.getColumnType(2) === Types.DOUBLE)
      assert(m.getColumnType(3) === Types.VARCHAR)
    }
  }

  test("sys ops schema is queryable over JDBC while a broker serves") {
    // the shape an ops dashboard uses: one JDBC connection for both
    // data and the sys catalog the broker registers (real catalog
    // tables, so they resolve from any session sharing the catalog)
    val events = spark.read.format("druid").load(segDir)
    val server = DruidServe.start(spark, _ => events, port = 0,
      sqlTables = Map("jdbc_events" -> events), sysSchema = true)
    try withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        "SELECT datasource, count(*) AS n, sum(num_rows) AS rows " +
          "FROM sys.segments GROUP BY datasource ORDER BY datasource")
      val segs = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toList
      val ev = segs.find(_._1 == "jdbc_events")
      assert(ev.nonEmpty, s"sys.segments rows: $segs")
      assert(ev.get._3 == 5L, s"num_rows: $ev")
      val rs2 = conn.createStatement().executeQuery(
        "SELECT server_type FROM sys.servers ORDER BY server_type")
      val types = Iterator.continually(rs2).takeWhile(_.next())
        .map(_.getString(1)).toList
      assert(types == List("broker", "historical"))
    } finally server.stop(0)
  }

  test("JDBC execution never mutates the caller's session (java8API leak)") {
    // Spark's thrift statement operation sets datetime.java8API=true on
    // the session it executes in; serving on a CLONED session keeps the
    // caller's timestamp row representation stable. Regression: the
    // full suite once failed 7 downstream getTimestamp calls with
    // java.time.Instant leaking out of shared-session serving.
    withConn { conn =>
      val rs = conn.createStatement()
        .executeQuery("SELECT max(__time) FROM jdbc_events")
      assert(rs.next() && rs.getTimestamp(1) != null)
    }
    assert(spark.conf.get("spark.sql.datetime.java8API.enabled") === "false")
    val row = spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS t").head()
    assert(row.get(0).isInstanceOf[java.sql.Timestamp],
      s"caller session leaked java8 rows: ${row.get(0).getClass}")
  }

  test("second start reuses the running endpoint and re-registers tables") {
    val again = JdbcEndpoint.start(spark, Map(
      "jdbc_events" -> spark.read.format("druid").load(segDir),
      "jdbc_extra" -> spark.range(3).toDF("n")))
    assert(again === port)
    withConn { conn =>
      val rs = conn.createStatement()
        .executeQuery("SELECT sum(n) FROM jdbc_extra")
      assert(rs.next() && rs.getLong(1) === 3L)
    }
  }
}
