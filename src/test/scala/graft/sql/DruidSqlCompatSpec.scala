package graft.sql

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Druid SQL compatibility surface: TIME_* / MV_* / LOOKUP / EARLIEST /
  * LATEST / SAFE_DIVIDE / DataSketches aggregator names, exercised the
  * way a Druid user would — as plain SQL text through `spark.sql`.
  */
class DruidSqlCompatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def one(sql: String): Any = spark.sql(s"SELECT $sql").head.get(0)
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("Druid scalar spellings: div, bitwise, strings, parse_long") {
    DruidSqlCompat.register(spark)
    assert(one("DIV(17, 5)") == 3L)
    assert(one("DIV(-17, 5)") == -3L) // integral divide truncates toward zero
    assert(one("BITWISE_AND(12, 10)") == 8L)
    assert(one("BITWISE_OR(12, 10)") == 14L)
    assert(one("BITWISE_XOR(12, 10)") == 6L)
    assert(one("BITWISE_SHIFT_LEFT(3, 2)") == 12L)
    assert(one("BITWISE_SHIFT_RIGHT(12, 2)") == 3L)
    assert(one("CONTAINS_STRING('druid rocks', 'rock')") == true)
    assert(one("CONTAINS_STRING('druid rocks', 'Rock')") == false)
    assert(one("ICONTAINS_STRING('druid rocks', 'Rock')") == true)
    assert(one("STRPOS('abcabc', 'c')") == 3)
    assert(one("STRPOS('abc', 'z')") == 0)
    assert(one("TEXTCAT('foo', 'bar')") == "foobar")
    assert(one("STRING_FORMAT('%s-%03d', 'x', 7)") == "x-007")
    assert(one("PARSE_LONG('42')") == 42L)
    assert(one("PARSE_LONG('nope')") == null)
    assert(one("PARSE_LONG('ff', 16)") == 255L)
    // signed radix parsing follows Long.parseLong, not conv()'s
    // unsigned wraparound; garbage digits null out instead of
    // conv()'s silent 0
    assert(one("PARSE_LONG('-ff', 16)") == -255L)
    assert(one("PARSE_LONG('zz', 16)") == null)
    assert(one("PARSE_LONG('', 16)") == null)
    assert(one("PARSE_LONG('z1', 36)") == 35L * 36 + 1)
    assert(one("PARSE_LONG('-101', 2)") == -5L)
    // IPv4 family
    assert(one("IPV4_PARSE('192.168.0.1')") == 3232235521L)
    assert(one("IPV4_PARSE('256.1.1.1')") == null)
    assert(one("IPV4_PARSE(3232235521)") == 3232235521L)
    assert(one("IPV4_STRINGIFY(3232235521)") == "192.168.0.1")
    assert(one("IPV4_MATCH('10.2.3.4', '10.0.0.0/8')") == true)
    assert(one("IPV4_MATCH('11.2.3.4', '10.0.0.0/8')") == false)
    assert(one("IPV4_MATCH('10.2.3.4', '10.2.3.4/32')") == true)
    // APPROX_QUANTILE: exact in the small-n regime
    assert(spark.sql(
      "SELECT APPROX_QUANTILE(v, 0.5) FROM VALUES (1.0),(2.0),(3.0) t(v)")
      .head.getDouble(0) == 2.0)
    assert(spark.sql(
      "SELECT APPROX_QUANTILE(v, 0.0, 128) FROM VALUES (5.0),(9.0) t(v)")
      .head.getDouble(0) == 5.0)
    // a huge resolution clamps to the accuracy CAP (long arithmetic)
    // instead of overflowing Int onto the floor
    assert(spark.sql(
      "SELECT APPROX_QUANTILE(v, 1.0, 20000000) FROM VALUES (5.0),(9.0) t(v)")
      .head.getDouble(0) == 9.0)
    // IPv4 range gates: out-of-unsigned-32 longs are null, /33 is
    // false, malformed subnets are false (never a masked wrong match)
    assert(spark.sql("SELECT IPV4_STRINGIFY(4294967296)").head.isNullAt(0))
    assert(one("IPV4_MATCH('10.0.0.1', '10.0.0.0/33')") == false)
    assert(one("IPV4_MATCH('10.0.0.1', 'garbage')") == false)
    // all native Catalyst — no UDF in any of these plans
    val plan = spark.sql(
      "SELECT DIV(17,5), BITWISE_AND(1,3), STRPOS('a','a'), PARSE_LONG('1')")
      .queryExecution.analyzed
    assert(plan.expressions.forall(e =>
      e.collect { case u: ScalaUDF => u }.isEmpty))
  }

  test("time_floor: duration periods bucket by fixed millis from origin") {
    assert(one("time_floor(TIMESTAMP '2024-03-15 13:47:21', 'PT15M')") ==
      ts("2024-03-15 13:45:00"))
    assert(one("time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P1D')") ==
      ts("2024-03-15 00:00:00"))
    // P1W with no origin floors to Monday, like Druid's PeriodGranularity
    assert(one("time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P1W')") ==
      ts("2024-03-11 00:00:00"))
    // explicit origin realigns the buckets
    assert(one("time_floor(TIMESTAMP '2024-03-15 13:47:21', 'PT1H'," +
      " TIMESTAMP '2024-01-01 00:30:00')") == ts("2024-03-15 13:30:00"))
  }

  test("time_floor: month periods bucket on calendar months") {
    assert(one("time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P1M')") ==
      ts("2024-03-01 00:00:00"))
    // quarters relative to 1970-01: Jan/Apr/Jul/Oct
    assert(one("time_floor(TIMESTAMP '2024-05-15 13:47:21', 'P3M')") ==
      ts("2024-04-01 00:00:00"))
    assert(one("time_floor(TIMESTAMP '2024-05-15 13:47:21', 'P1Y')") ==
      ts("2024-01-01 00:00:00"))
  }

  test("time_floor: timezone localizes the bucket boundary") {
    // 2024-03-15T03:00 UTC is 2024-03-14 in Los_Angeles (UTC-7 in DST)
    assert(one("time_floor(TIMESTAMP '2024-03-15 03:00:00', 'P1D', NULL," +
      " 'America/Los_Angeles')") == ts("2024-03-14 07:00:00"))
  }

  private def check(prop: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(r.passed, r.status.toString)
  }

  private def ms(s: String): Long = Instant.parse(s).toEpochMilli

  // instants around the US DST transitions of 2023 and 2024, uniform
  // ones over 2023-2025, and a few before the epoch
  private val transitions = Seq("2023-03-12T10:00:00Z", "2023-11-05T09:00:00Z",
    "2024-03-10T10:00:00Z", "2024-11-03T09:00:00Z").map(ms)
  private val instantGen: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(ms("2023-01-01T00:00:00Z"), ms("2026-01-01T00:00:00Z")),
    3 -> Gen.oneOf(transitions).flatMap(t => Gen.choose(t - 7 * 3600000L, t + 7 * 3600000L)),
    1 -> Gen.oneOf(transitions).flatMap(t => Gen.choose(-3L, 3L).map(h => t + h * 3600000L)),
    1 -> Gen.choose(ms("1969-06-01T00:00:00Z"), ms("1970-02-01T00:00:00Z")))
  private val periodGen: Gen[String] = Gen.oneOf(
    DruidTime.granularityNames.map(_._2) ++ Seq("PT90M", "P2D", "P2W", "P7D",
      "P2DT6H", "P2M", "P13M", "P2Y"))
  private val originGen: Gen[Option[Long]] =
    Gen.option(Gen.choose(ms("2019-01-01T00:00:00Z"), ms("2027-01-01T00:00:00Z")))
  private val zoneGen: Gen[Option[String]] = Gen.oneOf(None, Some("America/Los_Angeles"))

  /** `body` with the node's generated code (CODEGEN_ONLY), then with its
    * interpreted `eval` (NO_CODEGEN, whole-stage codegen off).
    */
  private def inBothFactoryModes(body: => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wholeStage) =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("scalar and Catalyst floor and ceil agree (names, origins, zones, DST)") {
    import spark.implicits._
    inBothFactoryModes(check(Prop.forAllNoShrink(periodGen, originGen, zoneGen, Gen.listOfN(40, instantGen)) {
      (period: String, origin: Option[Long], zone: Option[String], ts: List[Long]) =>
        val g = DruidTime.Granularity(DruidTime.period(period), origin,
          zone.flatMap(DruidTime.zone))
        val args = s"'$period', " + origin.fold("NULL")(o => s"timestamp_millis($o)") +
          zone.fold("")(z => s", '$z'")
        // an RDD-backed frame, so the expressions run through codegen
        val rows = spark.sparkContext.parallelize(ts, 1).toDF("ms")
          .select(col("ms"),
            expr(s"unix_millis(time_floor(timestamp_millis(ms), $args))"),
            expr(s"unix_millis(time_ceil(timestamp_millis(ms), $args))"))
          .collect()
        rows.forall { r =>
          val t = r.getLong(0)
          val k = g.index(t)
          val ceil = if (g.start(k) == t) t else g.start(k + 1)
          val ok = r.getLong(1) == g.floor(t) && r.getLong(2) == ceil &&
            g.start(k) == g.floor(t)
          if (!ok) println(s"[time_floor agreement] $period origin=$origin zone=$zone t=$t: " +
            s"catalyst=(${r.getLong(1)}, ${r.getLong(2)}) scalar=(${g.floor(t)}, $ceil)")
          ok && (origin.isDefined || g.floor(t) <= t && t <= ceil)
        }
    }, 60))
  }

  private val latticePeriods: Gen[String] = Gen.oneOf(
    DruidTime.granularityNames.map(_._2) ++ Seq("PT90M", "P2D", "P2W", "P2M", "P13M"))
  // a few shared origins, so that aligned pairs come up often
  private val latticeOrigin: Gen[Option[Long]] = Gen.option(Gen.oneOf(
    ms("2020-01-01T00:00:00Z"), ms("2023-01-31T06:00:00Z"), ms("2024-03-11T00:00:00Z")))

  test("lattice: coarserOrEqual(g, r) implies g.floor(r.floor(t)) == g.floor(t)") {
    import DruidTime.Granularity
    var held = 0
    check(Prop.forAllNoShrink(latticePeriods, latticeOrigin, latticePeriods, latticeOrigin,
        zoneGen, Gen.listOfN(40, instantGen)) {
      (gp: String, go: Option[Long], rp: String, ro: Option[Long], zone: Option[String],
       ts: List[Long]) =>
        val z = zone.flatMap(DruidTime.zone)
        val (g, r) = (Granularity(DruidTime.period(gp), go, z), Granularity(DruidTime.period(rp), ro, z))
        !Granularity.coarserOrEqual(g, r) || {
          held += 1
          ts.forall { t =>
            val ok = g.floor(r.floor(t)) == g.floor(t)
            if (!ok) println(s"[lattice] $gp@$go over $rp@$ro zone=$zone t=$t")
            ok
          }
        }
    }, 3000)
    assert(held >= 300, s"only $held of 3000 pairs were in the lattice")
  }

  test("lattice: every UTC pair of the name table matches its bucket starts, 1969-2031") {
    import DruidTime.Granularity
    val (lo, hi) = (ms("1969-01-01T00:00:00Z"), ms("2031-01-01T00:00:00Z"))
    // every bucket start of g in [lo, hi) is a bucket start of r
    def startsWithin(g: Granularity, r: Granularity): Boolean = {
      var k = g.index(lo)
      var ok = true
      while (ok && g.start(k) < hi) { val b = g.start(k); ok = r.floor(b) == b; k += 1 }
      ok
    }
    val names = DruidTime.granularityNames.map(_._1)
    names.foreach(n => assert(Granularity.coarserOrEqual(DruidTime.granularity(n),
      DruidTime.granularity(n)), n))
    val wrong = for {
      g <- names; r <- names if g != r
      lattice = Granularity.coarserOrEqual(DruidTime.granularity(g), DruidTime.granularity(r))
      if lattice != startsWithin(DruidTime.granularity(g), DruidTime.granularity(r))
    } yield s"$g over $r: lattice says $lattice"
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // every pair rollup routing's own table accepted before the lattice
    val before = Seq("hour" -> Seq("day", "week", "month", "quarter", "year"),
      "day" -> Seq("week", "month", "quarter", "year"), "month" -> Seq("quarter", "year"))
    for ((r, gs) <- before; g <- gs)
      assert(Granularity.coarserOrEqual(DruidTime.granularity(g), DruidTime.granularity(r)),
        s"$g over $r")
  }

  test("the name table, mixed periods and intervals") {
    assert(DruidTime.granularity("FIFTEEN_MINUTE").period == DruidTime.period("PT15M"))
    assert(DruidTime.granularityName(DruidTime.period("P1W")).contains("week"))
    assert(DruidTime.granularityName(DruidTime.period("P7D")).isEmpty)
    intercept[IllegalArgumentException](DruidTime.granularity("fortnight"))
    // mixed month-and-time periods shift, and never bucket
    val mixed = DruidTime.period("P1M1DT1H")
    assert(DruidTime.shift(ms("2024-03-31T00:00:00Z"), mixed, -1) ==
      ms("2024-02-27T23:00:00Z"))
    intercept[IllegalArgumentException](DruidTime.Granularity(mixed))
    intercept[IllegalArgumentException](
      spark.sql("SELECT time_floor(TIMESTAMP '2024-01-01 00:00:00', 'P1M1D')").collect())
    assert(DruidTime.interval("2024-03-15/P7D") ==
      (ms("2024-03-15T00:00:00Z"), ms("2024-03-22T00:00:00Z")))
    assert(DruidTime.interval("P1M/2024-03-31T00:00:00+01:00") ==
      (ms("2024-02-29T23:00:00Z"), ms("2024-03-30T23:00:00Z")))
    assert(DruidTime.instant("2024-03-15T01:02:03") == ms("2024-03-15T01:02:03Z"))
  }

  test("time_ceil: identity on boundary, next bucket otherwise") {
    assert(one("time_ceil(TIMESTAMP '2024-03-15 13:45:00', 'PT15M')") ==
      ts("2024-03-15 13:45:00"))
    assert(one("time_ceil(TIMESTAMP '2024-03-15 13:45:01', 'PT15M')") ==
      ts("2024-03-15 14:00:00"))
    assert(one("time_ceil(TIMESTAMP '2024-03-15 13:45:01', 'P1M')") ==
      ts("2024-04-01 00:00:00"))
  }

  test("time_shift: calendar months clamp day-of-month; durations are exact") {
    assert(one("time_shift(TIMESTAMP '2024-01-31 05:00:00', 'P1M', 1)") ==
      ts("2024-02-29 05:00:00"))
    assert(one("time_shift(TIMESTAMP '2024-01-31 05:00:00', 'P1M', -2)") ==
      ts("2023-11-30 05:00:00"))
    assert(one("time_shift(TIMESTAMP '2024-01-31 05:00:00', 'PT90M', 2)") ==
      ts("2024-01-31 08:00:00"))
  }

  test("time_extract: Druid unit contracts (DOW 1=Mon..7=Sun, ISO WEEK)") {
    // 2024-03-15 was a Friday
    assert(one("time_extract(TIMESTAMP '2024-03-15 13:47:21', 'DOW')") == 5L)
    assert(one("time_extract(TIMESTAMP '2024-03-17 13:47:21', 'DOW')") == 7L)
    assert(one("time_extract(TIMESTAMP '2024-03-15 13:47:21', 'HOUR')") == 13L)
    assert(one("time_extract(TIMESTAMP '2024-01-01 00:00:01', 'EPOCH')") ==
      1704067201L)
    assert(one("time_extract(TIMESTAMP '2024-03-15 13:47:21', 'QUARTER')") == 1L)
  }

  test("time_parse / time_format round-trip; Druid default ISO output") {
    assert(one("time_parse('2024-03-15T13:47:21.500Z')") ==
      ts("2024-03-15 13:47:21.5"))
    assert(one("time_parse('15/03/2024 13:47', 'dd/MM/yyyy HH:mm')") ==
      ts("2024-03-15 13:47:00"))
    assert(one("time_format(TIMESTAMP '2024-03-15 13:47:21.25')") ==
      "2024-03-15T13:47:21.250Z")
    assert(one("time_format(TIMESTAMP '2024-03-15 13:47:21', 'yyyy/MM/dd')") ==
      "2024/03/15")
  }

  test("time_in_interval: half-open, period-relative ends") {
    assert(one("time_in_interval(TIMESTAMP '2024-01-03 00:00:00'," +
      " '2024-01-01/2024-01-08')") == true)
    assert(one("time_in_interval(TIMESTAMP '2024-01-08 00:00:00'," +
      " '2024-01-01/2024-01-08')") == false)
    assert(one("time_in_interval(TIMESTAMP '2024-01-03 00:00:00'," +
      " '2024-01-01/P1W')") == true)
    assert(one("time_in_interval(TIMESTAMP '2023-12-31 23:59:59'," +
      " '2024-01-01/P1W')") == false)
  }

  test("millis round-trips") {
    assert(one("timestamp_to_millis(millis_to_timestamp(1704067201500))") ==
      1704067201500L)
  }

  test("time functions compile to pure Catalyst (no UDF in the plan)") {
    val df = spark.sql(
      "SELECT time_floor(TIMESTAMP '2024-03-15 13:47:21', 'P3M')," +
        " time_extract(TIMESTAMP '2024-03-15 13:47:21', 'DOW')")
    val udfs = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.isEmpty, s"time family must stay codegen-able: $udfs")
    // a time_floor grouping key runs inside whole-stage codegen, as the
    // node's own generated code
    val grouped = spark.range(0, 100)
      .select(expr("timestamp_millis(id * 3600000)").as("t"))
      .groupBy(expr("time_floor(t, 'P1D')").as("d")).count()
    assert(grouped.collect().map(_.getLong(1)).sorted.toSeq == Seq(4L, 24L, 24L, 24L, 24L))
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val inStage = plans.collect(grouped.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec =>
        w.child.collect { case p => p.expressions }.flatten
          .flatMap(_.collect { case f: DruidTime.TimeFloor => f })
    }.flatten
    assert(inStage.nonEmpty, grouped.queryExecution.executedPlan.toString)
    assert(!inStage.exists(_.isInstanceOf[CodegenFallback]))
  }

  test("mv family: index contracts, order/dup preservation") {
    assert(one("mv_length(array('a','b','a'))") == 3)
    assert(one("mv_contains(array('a','b'), 'b')") == true)
    assert(one("mv_overlap(array('a','b'), array('x','b'))") == true)
    assert(one("mv_offset(array('a','b','c'), 1)") == "b")
    assert(one("mv_offset(array('a','b','c'), 9)") == null)
    assert(one("mv_ordinal(array('a','b','c'), 1)") == "a")
    assert(one("mv_to_string(array('a','b'), '|')") == "a|b")
    assert(one("string_to_mv('a|b|c', '[|]')") == Seq("a", "b", "c"))
    assert(one("mv_slice(array('a','b','c','d'), 1, 3)") == Seq("b", "c"))
    assert(one("mv_append(array('a'), 'b')") == Seq("a", "b"))
    assert(one("mv_prepend('z', array('a'))") == Seq("z", "a"))
    assert(one("mv_concat(array('a'), array('b'))") == Seq("a", "b"))
    // duplicates preserved (array_intersect would collapse the two 'a's)
    assert(one("mv_filter_only(array('a','b','a','c'), array('a','c'))") ==
      Seq("a", "a", "c"))
    assert(one("mv_filter_none(array('a','b','a','c'), array('a'))") ==
      Seq("b", "c"))
  }

  test("lookup: inline and closure paths, retain/replace semantics") {
    DruidLookups.register("tiny", Map("click" -> "engagement",
      "view" -> "engagement"))
    DruidLookups.register("big",
      (0 until 200).map(i => s"k$i" -> s"v$i").toMap)
    assert(one("lookup('click', 'tiny')") == "engagement")
    assert(one("lookup('purchase', 'tiny')") == null)
    assert(one("lookup('purchase', 'tiny', 'other')") == "other")
    assert(one("lookup('k137', 'big')") == "v137")
    assert(one("lookup('nope', 'big', 'missing')") == "missing")
    intercept[Exception](spark.sql("SELECT lookup('x', 'unregistered')"))
  }

  test("earliest/latest: implicit __time, explicit _by variants") {
    spark.sql(
      """SELECT timestamp_millis(CAST(m AS BIGINT)) AS __time,
        |       CAST(m AS BIGINT) AS v, concat('u', m % 2) AS grp
        |FROM range(10) t(m)""".stripMargin)
      .createOrReplaceTempView("graft_el_t")
    val rows = spark.sql(
      """SELECT grp, earliest(v) AS e, latest(v) AS l,
        |       earliest_by(v, __time) AS eb, latest_by(v, __time) AS lb
        |FROM graft_el_t GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(("u0", 0L, 8L, 0L, 8L), ("u1", 1L, 9L, 1L, 9L)))
  }

  test("safe_divide: null on zero/null denominator, no error") {
    assert(one("safe_divide(10, 4)") == 2.5d)
    assert(one("safe_divide(10, 0)") == null)
    assert(one("safe_divide(10, CAST(NULL AS INT))") == null)
  }

  test("sketch aggregator names: exact-regime estimates match exact SQL") {
    spark.sql(
      """SELECT CAST(m % 100 AS BIGINT) AS k, CAST(m AS DOUBLE) AS x
        |FROM range(1000) t(m)""".stripMargin)
      .createOrReplaceTempView("graft_ds_t")
    assert(one("(SELECT approx_count_distinct_ds_hll(k) FROM graft_ds_t)") ==
      100L)
    assert(one("(SELECT approx_count_distinct_ds_theta(k) FROM graft_ds_t)") ==
      100L)
    // theta build agg -> post-agg estimate, sketch column round shape
    assert(one("(SELECT theta_sketch_estimate(ds_theta(k)) FROM graft_ds_t)") ==
      100.0d)
    // set ops against a shifted set: overlap of [0,100) and [50,150) is 50
    spark.sql("SELECT CAST(m % 100 + 50 AS BIGINT) AS k FROM range(1000) t(m)")
      .createOrReplaceTempView("graft_ds_u")
    assert(one(
      """theta_sketch_estimate(theta_sketch_intersect(
        |  (SELECT ds_theta(k) FROM graft_ds_t),
        |  (SELECT ds_theta(k) FROM graft_ds_u)))""".stripMargin) == 50.0d)
    assert(one(
      """theta_sketch_estimate(theta_sketch_union(
        |  (SELECT ds_theta(k) FROM graft_ds_t),
        |  (SELECT ds_theta(k) FROM graft_ds_u)))""".stripMargin) == 150.0d)
    assert(one(
      """theta_sketch_estimate(theta_sketch_not(
        |  (SELECT ds_theta(k) FROM graft_ds_t),
        |  (SELECT ds_theta(k) FROM graft_ds_u)))""".stripMargin) == 50.0d)
    // quantiles in the exact regime: order statistic at rank ceil(q*n).
    // k must keep n=1000 inside the sketch's exact window (base buffer
    // holds 2k values); the default k=128 goes approximate past 256
    // values and its randomized compaction makes the answer run-varying.
    assert(one("(SELECT approx_quantile_ds(x, 0.5, 1024) FROM graft_ds_t)") ==
      499.0d)
    assert(one(
      "(SELECT ds_get_quantile(ds_quantiles_sketch(x, 1024), 0.99) FROM graft_ds_t)") ==
      989.0d)
  }

  test("theta build agg merges pre-built blobs through a BinaryType child") {
    // two per-group sketches -> ds_theta over the sketch column = union
    spark.sql(
      """SELECT ds_theta(k) AS sk FROM (
        |  SELECT CAST(m AS BIGINT) AS k, m % 2 AS g FROM range(100) t(m))
        |GROUP BY g""".stripMargin)
      .createOrReplaceTempView("graft_ds_blobs")
    assert(one(
      "(SELECT theta_sketch_estimate(ds_theta(sk)) FROM graft_ds_blobs)") ==
      100.0d)
  }
}
