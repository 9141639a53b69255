package graft.query

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId, ZonedDateTime}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential pin for period granularities, with and without an
  * origin: the one floor (graft.sql.DruidTime), reached through a
  * native query's granularity and through Druid SQL's TIME_FLOOR, is
  * compared against an INDEPENDENT
  * java.time reference that evaluates the defining property directly —
  * bucket(t) = the largest lattice point origin + k·period ≤ t, with
  * period addition in the zone's local calendar (plusDays/plusWeeks/
  * plusMonths preserve local time-of-day across DST, exactly Joda's
  * imprecise-field add that Druid's PeriodGranularity delegates to)
  * and instant addition for the precise sub-day fields. Random
  * timestamps deliberately straddle the US DST transitions. The last
  * cases pin inputs where SQL and native queries used to disagree.
  */
class OriginGranSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  /** Largest lattice point origin + k·step ≤ t (binary search over a
    * monotone k → Instant map).
    */
  private def latticeFloor(t: Instant, plusK: Long => Instant): Instant = {
    var lo = -2000000L
    var hi = 2000000L
    require(!plusK(lo).isAfter(t) && plusK(hi).isAfter(t), "search range")
    while (hi - lo > 1) {
      val mid = Math.floorDiv(lo + hi, 2)
      if (!plusK(mid).isAfter(t)) lo = mid else hi = mid
    }
    plusK(lo)
  }

  /** The reference bucketing (see class doc). No origin is Druid's
    * default, 1970-01-01T00:00 local time (a Monday, 1970-01-05, for P1W).
    */
  private def refBucket(t: Instant, origin: Option[Instant], zone: ZoneId,
                        period: String): Instant = {
    val zo: ZonedDateTime = origin.map(_.atZone(zone)).getOrElse(
      LocalDateTime.of(1970, 1, if (period == "P1W") 5 else 1, 0, 0).atZone(zone))
    period match {
      case "PT1S" | "PT1M" | "PT1H" =>
        // precise fields: pure instant arithmetic in any zone
        val ms = Map("PT1S" -> 1000L, "PT1M" -> 60000L,
          "PT1H" -> 3600000L)(period)
        val o = zo.toInstant.toEpochMilli
        Instant.ofEpochMilli(Math.floorDiv(t.toEpochMilli - o, ms) * ms + o)
      case "P1D" => latticeFloor(t, k => zo.plusDays(k).toInstant)
      case "P1W" => latticeFloor(t, k => zo.plusWeeks(k).toInstant)
      case "P1M" => latticeFloor(t, k => zo.plusMonths(k).toInstant)
      case "P3M" => latticeFloor(t, k => zo.plusMonths(3 * k).toInstant)
      case "P1Y" => latticeFloor(t, k => zo.plusYears(k).toInstant)
    }
  }

  private def frame(rows: Seq[(Long, Instant)]) = {
    import spark.implicits._
    rows.map { case (id, t) =>
      (id, new java.sql.Timestamp(t.toEpochMilli))
    }.toDF("id", "t")
      .select(col("t").as("__time"), col("id"))
  }

  /** Engine buckets for (id, __time) rows under the given granularity,
    * via a groupBy native query keyed by id.
    */
  private def nativeBuckets(rows: Seq[(Long, Instant)], period: String,
                            origin: Option[Instant], tz: String): Map[Long, Instant] = {
    val df = frame(rows)
    val originField = origin.fold("")(o => s""", "origin": "$o"""")
    val tzField = if (tz == "UTC") "" else s""", "timeZone": "$tz""""
    val out = NativeQuery.run(s"""{
      "queryType": "groupBy", "dataSource": "t",
      "granularity": {"type": "period", "period": "$period"$originField$tzField},
      "dimensions": ["id"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => df).collect()
    out.map(r => r.getAs[Long]("id") ->
      Instant.ofEpochMilli(r.getTimestamp(0).getTime)).toMap
  }

  /** The same buckets through Druid SQL's TIME_FLOOR(ts, period, origin, tz). */
  private def sqlBuckets(rows: Seq[(Long, Instant)], period: String,
                         origin: Option[Instant], tz: String): Map[Long, Instant] = {
    val o = origin.fold("NULL")(o => s"timestamp_millis(${o.toEpochMilli})")
    frame(rows).select(col("id"), expr(s"time_floor(__time, '$period', $o, '$tz')"))
      .collect().map(r => r.getLong(0) -> Instant.ofEpochMilli(r.getTimestamp(1).getTime))
      .toMap
  }

  test("origin buckets match the independent lattice reference (incl. DST)") {
    val rnd = new scala.util.Random(1234)
    // timestamps: uniform over 2023-2025 plus points packed around the
    // US 2024 DST transitions (Mar 10, Nov 3)
    val springForward = Instant.parse("2024-03-10T10:00:00Z")
    val fallBack = Instant.parse("2024-11-03T09:00:00Z")
    val base = Instant.parse("2023-01-01T00:00:00Z")
    val ts: Seq[Instant] =
      (1 to 30).map(_ => base.plusSeconds(rnd.nextLong(3L * 365 * 86400))) ++
      (-6 to 6).map(h => springForward.plusSeconds(h * 3600L + 901)) ++
      (-6 to 6).map(h => fallBack.plusSeconds(h * 3600L + 901))
    val configs = Seq(
      ("PT1H", "2024-01-01T00:30:00Z", "America/Los_Angeles"),
      ("PT1H", "2021-06-05T00:17:23Z", "UTC"),
      ("P1D",  "2024-01-01T06:00:00Z", "America/Los_Angeles"),
      ("P1D",  "2024-02-03T04:05:06Z", "Asia/Tokyo"),
      ("P1W",  "2024-01-02T18:00:00Z", "America/Los_Angeles"),
      ("P1W",  "2023-05-17T12:00:00Z", "UTC"),
      ("P1M",  "2024-01-15T06:30:00Z", "UTC"),
      ("P1M",  "2023-03-28T23:00:00Z", "America/Los_Angeles"),
      ("P3M",  "2024-02-15T00:00:00Z", "UTC"),
      ("P3M",  "2022-11-05T08:00:00Z", "Asia/Tokyo"),
      ("P1Y",  "2021-02-28T12:00:00Z", "America/Los_Angeles"),
      ("P1Y",  "2020-07-04T00:00:00Z", "UTC"),
      // month-END origins: Joda clamps the day per boundary
      // (Aug 31 + 1M = Sep 30, + 2M = Oct 31 — no cumulative drift);
      // java.time's plusMonths in the reference clamps identically
      ("P1M",  "2023-08-31T06:00:00Z", "UTC"),
      ("P1M",  "2024-01-31T00:00:00Z", "America/Los_Angeles"),
      ("P3M",  "2023-11-30T12:00:00Z", "UTC"),
      ("P1Y",  "2020-02-29T00:00:00Z", "UTC"), // leap-day origin
      // no origin: Druid's default lattice (Monday weeks)
      ("PT1H", null, "America/Los_Angeles"),
      ("P1D",  null, "America/Los_Angeles"),
      ("P1W",  null, "UTC"),
      ("P1W",  null, "America/Los_Angeles"),
      ("P1M",  null, "America/Los_Angeles"),
      ("P3M",  null, "UTC"),
      ("P1Y",  null, "Asia/Tokyo"))
    configs.foreach { case (period, originS, tz) =>
      val origin = Option(originS).map(Instant.parse)
      val zone = ZoneId.of(tz)
      val rows = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      for ((engine, got) <- Seq(
          "native" -> nativeBuckets(rows, period, origin, tz),
          "sql" -> sqlBuckets(rows, period, origin, tz)))
        rows.foreach { case (id, t) =>
          val want = refBucket(t, origin, zone, period)
          assert(got(id) == want,
            s"$engine $period origin=$originS tz=$tz t=$t: " +
              s"engine=${got(id)} reference=$want")
        }
    }
  }

  test("month-end origin zero-fill spine clamps per boundary, not cumulatively") {
    import spark.implicits._
    // one event, zero-filled P1M spine anchored at Aug 31 06:00Z: the
    // boundaries must be Aug31, Sep30, Oct31, Nov30, Dec31, Jan31 —
    // a cumulative `+1 month` walk would decay to the 30th/28th after
    // the first short month and never recover
    val df = Seq((new java.sql.Timestamp(
        Instant.parse("2023-09-15T00:00:00Z").toEpochMilli), 1L))
      .toDF("__time", "id")
    val out = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t",
      "granularity": {"type": "period", "period": "P1M",
                      "origin": "2023-08-31T06:00:00Z"},
      "intervals": ["2023-09-01T00:00:00Z/2024-02-10T00:00:00Z"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => df).collect()
      .map(r => Instant.ofEpochMilli(r.getTimestamp(0).getTime)).toSeq.sorted
    val want = Seq("2023-08-31T06:00:00Z", "2023-09-30T06:00:00Z",
      "2023-10-31T06:00:00Z", "2023-11-30T06:00:00Z",
      "2023-12-31T06:00:00Z", "2024-01-31T06:00:00Z")
      .map(Instant.parse)
    assert(out == want, s"spine $out")
  }

  // ---- where Druid SQL and native queries used to disagree -------------

  private def ms(s: String): Long = Instant.parse(s).toEpochMilli

  private val t0 = new Timestamp(ms("2024-03-15T13:47:21Z"))

  private def sqlFloor(args: String): Long =
    spark.sql(s"SELECT unix_millis(time_floor(TIMESTAMP '2024-03-20 13:47:21', $args))")
      .head.getLong(0)

  /** The one bucket a native groupBy puts `at` in, under `granularity`. */
  private def nativeBucket(granularity: String, at: Timestamp = t0,
                           intervals: String = ""): Long = {
    import spark.implicits._
    val df = Seq((at, 1L)).toDF("__time", "id")
    val out = NativeQuery.run(s"""{
      "queryType": "groupBy", "dataSource": "t", "granularity": $granularity,
      $intervals "dimensions": ["id"], "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => df).collect()
    assert(out.length == 1, out.mkString(", "))
    out.head.getTimestamp(0).getTime
  }

  test("P1W with no origin floors to Monday in SQL and native queries") {
    assert(spark.sql("SELECT unix_millis(time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P1W'))")
      .head.getLong(0) == ms("2024-03-11T00:00:00Z"))
    assert(nativeBucket("\"week\"") == ms("2024-03-11T00:00:00Z"))
    assert(nativeBucket("""{"type": "period", "period": "P1W"}""") ==
      ms("2024-03-11T00:00:00Z"))
  }

  test("a month period keeps its origin's day in SQL and native queries") {
    assert(sqlFloor("'P1M', TIMESTAMP '2024-01-15 00:00:00'") == ms("2024-03-15T00:00:00Z"))
    assert(nativeBucket(
      """{"type": "period", "period": "P1M", "origin": "2024-01-15T00:00:00Z"}""",
      new Timestamp(ms("2024-03-20T13:47:21Z"))) == ms("2024-03-15T00:00:00Z"))
  }

  test("native queries take fifteen_minute, PT15M and P2D like SQL and the writer") {
    assert(nativeBucket("\"fifteen_minute\"") == ms("2024-03-15T13:45:00Z"))
    assert(nativeBucket("""{"type": "period", "period": "PT15M"}""") ==
      ms("2024-03-15T13:45:00Z"))
    // two-day buckets count from the epoch: 2024-03-15 is day 19797
    assert(nativeBucket("""{"type": "period", "period": "P2D"}""") ==
      ms("2024-03-14T00:00:00Z"))
    assert(spark.sql("SELECT unix_millis(time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P2D'))")
      .head.getLong(0) == ms("2024-03-14T00:00:00Z"))
  }

  test("native intervals take start/period like TIME_IN_INTERVAL") {
    assert(nativeBucket("\"day\"",
      intervals = """"intervals": ["2024-03-15/P7D"],""") == ms("2024-03-15T00:00:00Z"))
    assert(spark.sql("SELECT time_in_interval(TIMESTAMP '2024-03-21 00:00:00', '2024-03-15/P7D')")
      .head.getBoolean(0))
  }
}
