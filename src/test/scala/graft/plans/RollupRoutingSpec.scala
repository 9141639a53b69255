package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rollup-routing rule must (a) actually swap the relation — the
  * oracle gate alone cannot see that, since an un-routed query answers
  * identically — and (b) NEVER fire on a shape it cannot answer
  * exactly. Both directions are plan-asserted here.
  */
class RollupRoutingSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val base = graft.Tables.events(spark, sf)
  private lazy val rollupPath =
    graft.queries.Relational.stageRollup(spark, sf)

  private def register(): Unit =
    RollupRouting.register(spark, base,
      spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"),
      mins = Map("value" -> "value_min"),
      maxs = Map("value" -> "value_max"),
      countCol = Some("cnt"))

  private def planOf(df: DataFrame): String =
    // executedPlan's FileScan carries the location path; the logical
    // string only shows column lists
    df.queryExecution.executedPlan.toString

  test("monthly aggregate routes to the rollup and matches the base") {
    def query = base
      .groupBy(date_trunc("MONTH", col("ts")).as("m"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
           min(col("value")).as("mn"), max(col("value")).as("mx"))
    register()
    try {
      val routed = query
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      assert(!planOf(routed).contains("events.parquet"),
        s"still scans the base:\n${planOf(routed)}")
      val got = routed.collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      RollupRouting.clear()
      val unrouted = query
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (n, sv, mn, mx)) =>
        val (n2, sv2, mn2, mx2) = want(k)
        assert(n == n2 && mn == mn2 && mx == mx2, s"group $k")
        // sum-of-partial-sums vs direct double sum: ulp-level only
        assert(math.abs(sv - sv2) < 1e-6 * math.max(1.0, math.abs(sv2)),
          s"group $k: $sv vs $sv2")
      }
      assert(got.nonEmpty)
    } finally RollupRouting.clear()
  }

  test("dim filters commute and route; non-exact shapes never do") {
    register()
    try {
      // dim-only filter routes (and the filter lands on the rollup)
      val q2 = base.filter(col("event_type") === "click")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(planOf(q2).contains("events_daily"), planOf(q2))
      val routedN = q2.collect().head.getLong(1)
      RollupRouting.clear()
      val baseN = base.filter(col("event_type") === "click").count()
      assert(routedN == baseN)
      register()
      // every non-exact shape stays on the base table
      val nonRoutable = Seq(
        // finer granularity than the rollup buckets
        base.groupBy(date_trunc("HOUR", col("ts"))).agg(count(lit(1))),
        // unregistered aggregate
        base.groupBy(col("event_type")).agg(avg(col("value"))),
        // distinct aggregate
        base.groupBy(col("event_type")).agg(countDistinct(col("user_id"))),
        // filter on a MEASURE does not commute with pre-aggregation
        base.filter(col("value") > 10)
          .groupBy(col("event_type")).agg(count(lit(1))),
        // filter on raw time (not a dim) — rollup lost sub-day detail
        base.filter(col("ts") > lit("2024-01-01 06:00:00"))
          .groupBy(col("event_type")).agg(count(lit(1))),
        // grouping by an unregistered column
        base.groupBy(col("user_id")).agg(count(lit(1))),
        // GLOBAL aggregate (empty-base count semantics differ)
        base.agg(count(lit(1))))
      nonRoutable.foreach { q =>
        val p = planOf(q)
        assert(!p.contains("events_daily"), s"over-routed:\n$p")
      }
    } finally RollupRouting.clear()
  }

  test("two routed aggregates coexist in one plan (fresh rollup ids)") {
    def qa = base.filter(col("event_type") === "click")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    def qb = base.filter(col("event_type") === "view")
      .groupBy(col("event_type")).agg(sum(col("value")).as("n"))
    register()
    try {
      val u = qa.union(qb)
      val p = planOf(u)
      assert(p.contains("events_daily"), p)
      assert(!p.contains("events.parquet"), p)
      def vals(rows: Array[org.apache.spark.sql.Row]): Map[String, Double] =
        rows.map(r => r.getString(0) -> (r.get(1) match {
          case l: java.lang.Long => l.toDouble
          case d: java.lang.Double => d.doubleValue()
        })).toMap
      val got = vals(u.collect())
      RollupRouting.clear()
      val want = vals(qa.union(qb).collect())
      assert(got.keySet == want.keySet, s"$got != $want")
      // sum-of-partial-sums vs direct double sum: ulp-level only
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) < 1e-9 * math.max(1.0, math.abs(want(k))),
          s"$k: $v vs ${want(k)}")
      }
    } finally RollupRouting.clear()
  }

  test("query-side casts are never dropped: lossy cast under an agg blocks routing") {
    register()
    try {
      // SUM(CAST(value AS BIGINT)) truncates per-row; answering it from
      // the pre-summed double column would be silently wrong (and a
      // different result type). The rewrite must leave it on the base.
      val q = base.groupBy(col("event_type"))
        .agg(sum(col("value").cast("long")).as("s"))
      assert(!planOf(q).contains("events_daily"), planOf(q))
      // CAST(dim) in a grouping likewise stays semantically intact:
      // either re-wrapped around the rollup attribute or unrouted —
      // never the bare rollup column. Value-check against the base.
      val q2 = base.groupBy(col("event_type").cast("binary").as("b"))
        .agg(count(lit(1)).as("n"))
      val got = q2.collect().map(r => (new String(r.getAs[Array[Byte]](0),
        java.nio.charset.StandardCharsets.UTF_8), r.getLong(1))).toMap
      RollupRouting.clear()
      val want = q2.collect().map(r => (new String(r.getAs[Array[Byte]](0),
        java.nio.charset.StandardCharsets.UTF_8), r.getLong(1))).toMap
      assert(got == want)
    } finally RollupRouting.clear()
  }

  test("cast ABOVE an aggregate routes with the cast preserved") {
    register()
    try {
      val q = base.groupBy(col("event_type"))
        .agg(sum(col("value")).cast("string").as("s"))
      val p = planOf(q)
      assert(p.contains("events_daily"), p)
      val got = q.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // string rendering of a double sum: exact same partial-sum order
      // is not guaranteed, so compare the parsed values
      RollupRouting.clear()
      val want = q.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, v) =>
        assert(math.abs(v.toDouble - want(k).toDouble) <
          1e-6 * math.max(1.0, math.abs(want(k).toDouble)), s"$k: $v vs ${want(k)}")
      }
    } finally RollupRouting.clear()
  }

  test("register() rejects a base containing a Filter (leaf-match would widen rows)") {
    val filtered = base.filter(col("event_type") === "click")
    val e = intercept[IllegalArgumentException] {
      RollupRouting.register(spark, filtered, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        countCol = Some("cnt"))
    }
    assert(e.getMessage.contains("leaf"))
  }

  test("avg and count(col) route through sum/count decomposition") {
    RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"),
      countCol = Some("cnt"),
      counts = Map("value" -> "value_cnt"))
    try {
      def q = base.groupBy(col("event_type"))
        .agg(avg(col("value")).as("a"), count(col("value")).as("c"))
      val routed = q
      assert(planOf(routed).contains("events_daily"), planOf(routed))
      val got = routed.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (a, c)) =>
        val (a2, c2) = want(k)
        assert(c == c2, s"$k count")
        assert(math.abs(a - a2) < 1e-9 * math.max(1.0, math.abs(a2)),
          s"$k avg: $a vs $a2")
      }
      // avg WITHOUT a registered count column never routes
      RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
      val p = planOf(base.groupBy(col("event_type")).agg(avg(col("value"))))
      assert(!p.contains("events_daily"), p)
    } finally RollupRouting.clear()
  }

  test("hll sketch aggregates route to pre-sketch union; lgK mismatch never does") {
    def q = base.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("au"))
    RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      hlls = Map("user_id" -> (("user_hll", 12))))
    try {
      val routed = q
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      assert(planOf(routed).toLowerCase.contains("hll_union_agg"),
        s"no sketch union in the routed plan:\n${planOf(routed)}")
      val got = routed.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // bit-for-bit: merged-union state == raw aggregation state (and
      // at this SF per-group distincts sit in the coupon-exact regime,
      // so both equal the exact distinct count)
      assert(got == want, s"routed $got vs raw $want")
      assert(got.nonEmpty)
      // a different lgK in the query must NOT route: a union across
      // configs would silently downsample
      RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        hlls = Map("user_id" -> (("user_hll", 12))))
      val mism = base.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 13))").as("au"))
      assert(!planOf(mism).contains("events_daily"),
        s"lgK mismatch routed:\n${planOf(mism)}")
    } finally RollupRouting.clear()
  }

  test("ds_freq routes to the rollup blob merge; maxMapSize mismatch never does") {
    graft.sql.DruidSqlCompat.register(spark)
    val baseM = base.withColumn("user_mod",
      expr("cast(user_id % 100 as string)"))
    def q = baseM.groupBy(col("event_type"))
      .agg(expr("ds_freq(user_mod, 2048)").as("sk"))
      .select(col("event_type"),
        explode(expr("ds_freq_topk(sk, 3)")).as("hit"))
      .select(col("event_type"), col("hit.item"), col("hit.est"))
      .orderBy(col("event_type"), col("est").desc, col("item"))
    RollupRouting.register(spark, baseM, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      freqs = Map("user_mod" -> (("user_mod_freq", 2048))))
    try {
      val routed = q
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      val got = routed.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // cardinality 100 < purge threshold: both sketches are exact,
      // so routed == unrouted VALUE-equal, not just approximately
      assert(got == want, s"routed $got vs raw $want")
      assert(got.nonEmpty)
      // maxMapSize mismatch must NOT route: a merge into a smaller
      // map would silently widen error bounds (the lgK-guard class)
      RollupRouting.register(spark, baseM, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        freqs = Map("user_mod" -> (("user_mod_freq", 2048))))
      val mism = baseM.groupBy(col("event_type"))
        .agg(expr("ds_freq(user_mod, 1024)").as("sk"))
      assert(!planOf(mism).contains("events_daily"),
        s"maxMapSize mismatch routed:\n${planOf(mism)}")
    } finally RollupRouting.clear()
  }

  test("ds_quantiles_sketch routes to the rollup blob union; k mismatch never does") {
    graft.sql.DruidSqlCompat.register(spark)
    // DAY-level query = rollup granularity: every group's sketch holds
    // n <= 15 values (< k=128), so builds AND unions are in the exact
    // regime and routed == unrouted VALUE-equal
    def q = base.groupBy(date_trunc("DAY", col("ts")).as("d"),
        col("event_type"))
      .agg(expr("ds_get_quantile(ds_quantiles_sketch(value, 128), 0.5D)")
        .as("med"))
      .orderBy(col("d"), col("event_type"))
    RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      quantiles = Map("value" -> (("value_q", 128))))
    try {
      val routed = q
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      val got = routed.collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq
      assert(got == want, s"routed ${got.take(3)}... vs raw ${want.take(3)}...")
      assert(got.nonEmpty)
      // k mismatch must NOT route: a union across k values silently
      // downsamples (the lgK-guard class)
      RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        quantiles = Map("value" -> (("value_q", 128))))
      val mism = base.groupBy(col("event_type"))
        .agg(expr("ds_quantiles_sketch(value, 64)").as("sk"))
      assert(!planOf(mism).contains("events_daily"),
        s"k mismatch routed:\n${planOf(mism)}")
    } finally RollupRouting.clear()
  }

  test("ds_tuple routes to the rollup blob merge; nominalEntries mismatch never does") {
    graft.sql.DruidSqlCompat.register(spark)
    val baseT = base
      .withColumn("user_mod", expr("cast(user_id % 100 as string)"))
      .withColumn("tup_m", expr("array(floor(value))"))
    def q = baseT.groupBy(col("event_type"))
      .agg(expr("ds_tuple(user_mod, tup_m, 4096)").as("sk"))
      .select(col("event_type"),
        expr("ds_tuple_estimate(sk)").as("est"),
        expr("element_at(ds_tuple_metrics_sum(sk), 1)").as("sum_v"))
      .orderBy(col("event_type"))
    def registerT(): Unit =
      RollupRouting.register(spark, baseT, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        tuples = Map(("user_mod", "tup_m") -> (("user_tuple", 4096))))
    registerT()
    try {
      val routed = q
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      val got = routed.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      // key cardinality 100 < nominalEntries: theta == 1 on every
      // contributing sketch AND the union, and the metric is
      // integer-valued — routed == unrouted VALUE-equal
      assert(got == want, s"routed $got vs raw $want")
      assert(got.nonEmpty)
      // nominalEntries mismatch must NOT route: a smaller-nominal
      // merge silently lowers theta (the lgK-guard class)
      registerT()
      val mism = baseT.groupBy(col("event_type"))
        .agg(expr("ds_tuple(user_mod, tup_m, 1024)").as("sk"))
      assert(!planOf(mism).contains("events_daily"),
        s"nominalEntries mismatch routed:\n${planOf(mism)}")
      // a DIFFERENT metrics definition must not route onto this blob
      val wrongM = baseT.withColumn("tup_m2", expr("array(value)"))
        .groupBy(col("event_type"))
        .agg(expr("ds_tuple(user_mod, tup_m2, 4096)").as("sk"))
      assert(!planOf(wrongM).contains("events_daily"),
        s"metrics-def mismatch routed:\n${planOf(wrongM)}")
    } finally RollupRouting.clear()
  }

  test("tdigest_agg routes to the rollup blob merge; compression mismatch never does") {
    graft.sql.DruidSqlCompat.register(spark)
    def q = base.groupBy(col("event_type"))
      .agg(expr("tdigest_agg(value, 100)").as("sk"))
      .select(col("event_type"),
        expr("tdigest_total_weight(sk)").as("w"),
        expr("tdigest_sketch_quantile(sk, 0.5)").as("med"))
      .orderBy(col("event_type"))
    def registerTd(): Unit =
      RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        tdigests = Map("value" -> (("value_td", 100))))
    registerTd()
    try {
      val routed = q
      assert(planOf(routed).contains("events_daily"),
        s"did not route:\n${planOf(routed)}")
      val got = routed.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      RollupRouting.clear()
      val unrouted = q
      assert(planOf(unrouted).contains("events.parquet"))
      val want = unrouted.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      // total weight is EXACT through any merge; the median carries
      // t-digest's merge-order dependence, so the principled check is
      // RANK-based: the routed median's rank in the TRUE per-group
      // value distribution must sit near 0.5 (rank error, not value
      // error — value deltas blow up wherever density is low)
      assert(got.map(x => (x._1, x._2)) == want.map(x => (x._1, x._2)),
        s"weights: $got vs $want")
      val values = base.select(col("event_type"), col("value")).collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
      got.foreach { case (g, _, med) =>
        val vs = values(g)
        val rank = vs.count(_ <= med).toDouble / vs.length
        assert(math.abs(rank - 0.5) <= 0.05,
          s"group $g: routed median $med sits at rank $rank")
      }
      assert(got.nonEmpty)
      // compression mismatch must NOT route (the lgK-guard class)
      registerTd()
      val mism = base.groupBy(col("event_type"))
        .agg(expr("tdigest_agg(value, 200)").as("sk"))
      assert(!planOf(mism).contains("events_daily"),
        s"compression mismatch routed:\n${planOf(mism)}")
    } finally RollupRouting.clear()
  }

  test("two sessions arm the rule independently (WeakHashMap keying)") {
    val s2 = spark.newSession()
    val base2 = graft.Tables.events(s2, sf)
    RollupRouting.register(spark, base, spark.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      countCol = Some("cnt"))
    RollupRouting.register(s2, base2, s2.read.parquet(rollupPath),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      countCol = Some("cnt"))
    try {
      val q1 = base.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q2 = base2.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(planOf(q1).contains("events_daily"), planOf(q1))
      assert(q2.queryExecution.executedPlan.toString.contains("events_daily"),
        q2.queryExecution.executedPlan.toString)
    } finally RollupRouting.clear()
  }

  test("staleness tripwire: a write to a druid-backed base disables routing") {
    import graft.sources.druid.SegmentCatalog
    val dir = java.nio.file.Files.createTempDirectory("rr-stale").toString
    val ev = base.select(col("ts").as("__time"), col("event_type"),
      col("value"))
    ev.write.format("druid").mode("overwrite").save(dir)
    val druidBase = spark.read.format("druid").load(dir)
      .select(col("__time").as("ts"), col("event_type"), col("value"))
    val rollup = druidBase
      .groupBy(date_trunc("DAY", col("ts")).as("ts"), col("event_type"))
      .agg(sum(col("value")).as("value_sum"), count(lit(1)).as("cnt"))
    val rdir = java.nio.file.Files.createTempDirectory("rr-stale-ru").toString
    rollup.write.mode("overwrite").parquet(rdir)
    RollupRouting.register(spark, druidBase, spark.read.parquet(rdir),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
      sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
    try {
      // sum(double) is NOT answerable by the scan's metadata-aggregate
      // pushdown, so the Aggregate survives to the user-rule batch and
      // routing fires (count(*) over a druid table is already answered
      // zero-decode by the scan itself — routing never sees it)
      def q = druidBase.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
      assert(planOf(q).contains(rdir), planOf(q)) // routes while fresh
      val before = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // ingest into the base: the fingerprint changes, routing must stop
      val extra = ev.limit(10)
      val extraSum = extra.agg(sum(col("value"))).collect().head.getDouble(0)
      extra.write.format("druid").mode("append").save(dir)
      val after = q
      assert(!planOf(after).contains(rdir),
        s"routed to a STALE rollup:\n${planOf(after)}")
      val counts = after.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // the unrouted answer sees the new rows
      assert(math.abs(counts.values.sum - (before.values.sum + extraSum)) < 1e-6,
        s"$counts vs $before")
      // re-registering against the refreshed base resumes routing
      val rollup2dir = java.nio.file.Files.createTempDirectory("rr-stale-r2").toString
      spark.read.format("druid").load(dir)
        .select(col("__time").as("ts"), col("event_type"), col("value"))
        .groupBy(date_trunc("DAY", col("ts")).as("ts"), col("event_type"))
        .agg(sum(col("value")).as("value_sum"), count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(rollup2dir)
      val druidBase2 = spark.read.format("druid").load(dir)
        .select(col("__time").as("ts"), col("event_type"), col("value"))
      RollupRouting.register(spark, druidBase2, spark.read.parquet(rollup2dir),
        timeCol = "ts", granularity = "DAY", dims = Seq("event_type"),
        sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
      val q2 = druidBase2.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
      assert(planOf(q2).contains(rollup2dir), planOf(q2))
      val again = q2.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(again.keySet == counts.keySet)
      again.foreach { case (k, v) =>
        assert(math.abs(v - counts(k)) < 1e-6, s"$k: $v vs ${counts(k)}") }
      // and the fingerprint itself moved
      assert(SegmentCatalog.stateFingerprint(dir) != "<unreadable>")
    } finally RollupRouting.clear()
  }

  test("a numeric dim filter over a druid base routes") {
    // the hour dim is computed over the scan, so its filter stays a
    // residual Filter over the druid scan, whose numeric literal the
    // optimizer binds (BoundLiterals) before the rollup rewrite runs
    val dir = java.nio.file.Files.createTempDirectory("rr-numdim").toString
    base.select(col("ts").as("__time"), col("event_type"), col("value"))
      .write.format("druid").mode("overwrite").save(dir)
    val druidBase = spark.read.format("druid").load(dir)
      .select(col("__time").as("ts"), col("event_type"),
        hour(col("__time")).as("hr"), col("value"))
    val rdir = java.nio.file.Files.createTempDirectory("rr-numdim-ru").toString
    druidBase
      .groupBy(date_trunc("DAY", col("ts")).as("ts"), col("event_type"), col("hr"))
      .agg(sum(col("value")).as("value_sum"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(rdir)
    def q = druidBase.filter(col("hr") >= 12)
      .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
    val unrouted = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    RollupRouting.register(spark, druidBase, spark.read.parquet(rdir),
      timeCol = "ts", granularity = "DAY", dims = Seq("event_type", "hr"),
      sums = Map("value" -> "value_sum"), countCol = Some("cnt"))
    try {
      assert(planOf(q).contains(rdir), planOf(q))
      val routed = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(routed.nonEmpty && routed.keySet == unrouted.keySet)
      routed.foreach { case (k, v) =>
        assert(math.abs(v - unrouted(k)) < 1e-6 * math.max(1.0, math.abs(v)), k) }
    } finally RollupRouting.clear()
  }

  test("SQL-text queries over a view of the base route identically") {
    register()
    try {
      base.createOrReplaceTempView("rr_events")
      val q = spark.sql(
        """SELECT date_trunc('YEAR', ts) AS y, event_type, count(*) AS n,
          |       min(value) AS mn
          |FROM rr_events GROUP BY 1, 2""".stripMargin)
      assert(planOf(q).contains("events_daily"), planOf(q))
      assert(q.collect().nonEmpty)
    } finally {
      RollupRouting.clear()
      val _ = spark.catalog.dropTempView("rr_events")
    }
  }
}
