package graft.plans

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rollup routing reads DruidTime's one floor node and one lattice test:
  * a TIME_FLOOR or native-granularity aggregate over a base with a
  * registered rollup reads the rollup when every bucket of its floor is
  * a union of the rollup's buckets, and stays on the base otherwise.
  * Each routed answer equals the unrouted one.
  */
class FloorRoutingSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val base = graft.Tables.events(spark, sf)
  private lazy val rollupPath = graft.queries.Relational.stageRollup(spark, sf)

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def registerDaily(): Unit =
    RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"), countCol = Some("cnt"))

  /** (bucket, key) -> (count, sum) of a query's (bucket, key, n, s) rows. */
  private def answer(df: DataFrame): Map[(Timestamp, String), (Long, Double)] =
    df.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  private def assertSame(got: Map[(Timestamp, String), (Long, Double)],
                         want: Map[(Timestamp, String), (Long, Double)]): Unit = {
    assert(got.nonEmpty && got.keySet == want.keySet)
    got.foreach { case (k, (n, s)) =>
      val (n2, s2) = want(k)
      // sum of partial sums against a direct double sum: ulp-level only
      assert(n == n2 && math.abs(s - s2) < 1e-6 * math.max(1.0, math.abs(s2)), s"group $k")
    }
  }

  private def withView[T](body: => T): T = {
    base.createOrReplaceTempView("fr_events")
    try body
    finally {
      RollupRouting.clear()
      val _ = spark.catalog.dropTempView("fr_events")
    }
  }

  private def byFloor(floor: String): DataFrame = spark.sql(
    s"SELECT $floor AS b, event_type, count(*) AS n, sum(value) AS s " +
      "FROM fr_events GROUP BY 1, 2")

  test("SQL GROUP BY TIME_FLOOR(ts, 'P1M') routes onto the daily rollup")(withView {
    def q = byFloor("TIME_FLOOR(ts, 'P1M')")
    registerDaily()
    val routed = q
    assert(planOf(routed).contains("events_daily"), planOf(routed))
    assert(!planOf(routed).contains("events.parquet"), planOf(routed))
    val got = answer(routed)
    RollupRouting.clear()
    val unrouted = q
    assert(planOf(unrouted).contains("events.parquet"), planOf(unrouted))
    assertSame(got, answer(unrouted))
  })

  test("a native week timeseries with no intervals routes over a __time druid base") {
    val dir = Files.createTempDirectory("fr-druid").toString
    base.select(col("ts").as("__time"), col("event_type"), col("value"))
      .write.format("druid").mode("overwrite").save(dir)
    val druidBase = spark.read.format("druid").load(dir)
    val rdir = Files.createTempDirectory("fr-druid-ru").toString
    druidBase.groupBy(date_trunc("DAY", col("__time")).as("__time"), col("event_type"))
      .agg(sum(col("value")).as("value_sum"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(rdir)
    val json = """{"queryType": "timeseries", "dataSource": "rbase", "granularity": "week",
      "aggregations": [{"type": "count", "name": "n"},
                       {"type": "doubleSum", "name": "s", "fieldName": "value"}]}"""
    def q = graft.query.NativeQuery.run(json, _ => druidBase)
      .select(col("__time"), lit("all").as("k"), col("n"), col("s"))
    val unrouted = q
    assert(!planOf(unrouted).contains(rdir), planOf(unrouted))
    val want = answer(unrouted)
    RollupRouting.register(spark, druidBase, spark.read.parquet(rdir),
      timeCol = "__time", granularity = "DAY", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
    try {
      val routed = q
      assert(planOf(routed).contains(rdir), planOf(routed))
      assertSame(answer(routed), want)
    } finally RollupRouting.clear()
  }

  test("floors whose buckets are not unions of the rollup's stay on the base")(withView {
    registerDaily()
    // the same table and rollup route a plain month floor
    assert(planOf(byFloor("TIME_FLOOR(ts, 'P1M')")).contains("events_daily"))
    Seq(
      // Los Angeles days are not unions of UTC days
      "TIME_FLOOR(ts, 'P1D', NULL, 'America/Los_Angeles')",
      // a ceil is no floor
      "TIME_CEIL(ts, 'P1M')",
      // an origin read per row
      "TIME_FLOOR(ts, 'P1M', date_trunc('YEAR', ts))").foreach { f =>
      val p = planOf(byFloor(f))
      assert(!p.contains("events_daily"), s"over-routed $f:\n$p")
    }
    // a month is no union of weeks
    val wdir = Files.createTempDirectory("fr-weekly").toString
    base.groupBy(date_trunc("WEEK", col("ts")).as("ts"), col("event_type"))
      .agg(sum(col("value")).as("value_sum"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(wdir)
    RollupRouting.clear()
    RollupRouting.register(spark, base, spark.read.parquet(wdir),
      timeCol = "ts", granularity = "week", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
    assert(planOf(byFloor("TIME_FLOOR(ts, 'P1W')")).contains(wdir))
    val p = planOf(byFloor("TIME_FLOOR(ts, 'P1M')"))
    assert(!p.contains(wdir), s"over-routed a month onto weeks:\n$p")
  })

  test("q36-q39 still route onto the daily rollup") {
    try Seq("q36_rollup_routing", "q37_rollup_avg_routing", "q38_rollup_sketch_routing",
        "q39_rollup_freq_routing").foreach { name =>
      val p = planOf(graft.queries.Relational.queries(name)(spark, sf))
      assert(p.contains("events_daily"), s"$name did not route:\n$p")
    } finally RollupRouting.clear()
  }
}
