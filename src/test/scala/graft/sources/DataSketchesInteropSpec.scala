package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-Druid sketch interop: COMPLEX columns tagged typeName
  * "HLLSketch" carry genuine Apache DataSketches HLL payloads — the
  * wire format Druid's own datasketches extension reads and writes.
  * This spec bypasses Spark's sketch functions on the read side and
  * heapifies the raw segment bytes with datasketches-java directly,
  * proving the blobs round-trip the segment COMPLEX column unmodified
  * and stay consumable by ANY DataSketches reader.
  */
class DataSketchesInteropSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("COMPLEX HLLSketch blobs heapify with datasketches-java") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-dshll").toString + "/t"
    // two groups, known exact cardinalities (20 and 80 distinct ids: even ids mod 40, odd mod 160)
    (0 until 2000)
      .map(i => (1700000000000L + i, if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) (i % 40).toLong else (i % 160).toLong))
      .toDF("__time", "grp", "uid")
      .groupBy(col("__time") % 1000, col("grp"))
      .agg(min(col("__time")).as("__time"), first(col("grp")).as("g"),
        hll_sketch_agg(col("uid")).as("users_hll"))
      .select(col("__time"), col("g").as("grp"), col("users_hll"))
      .coalesce(1)
      .write.format("druid")
      .option("complexTypes", "users_hll:HLLSketch")
      .mode("overwrite").save(out)

    val back = spark.read.format("druid").load(out)
    // the descriptor's complex typeName surfaces as column metadata
    val meta = back.schema("users_hll").metadata
    assert(meta.contains("druid.complexType") &&
      meta.getString("druid.complexType") == "HLLSketch")

    // heapify every raw blob with datasketches-java (no Spark sketch
    // function in the path) and union per group: estimates must equal
    // the known exact cardinalities (small n => coupon-exact mode)
    val perGroup = back.select(col("grp"), col("users_hll")).collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        val u = new org.apache.datasketches.hll.Union(12)
        rows.foreach { r =>
          u.update(org.apache.datasketches.hll.HllSketch.heapify(
            r.getAs[Array[Byte]]("users_hll")))
        }
        g -> math.round(u.getEstimate)
      }
    assert(perGroup == Map("a" -> 20L, "b" -> 80L), s"got $perGroup")

    // and Spark's native union/estimate over the same segment agrees
    val viaSpark = back.groupBy(col("grp"))
      .agg(hll_sketch_estimate(hll_union_agg(col("users_hll"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSpark == Map("a" -> 20L, "b" -> 80L))
  }

  test("COMPLEX quantilesDoublesSketch blobs wrap with datasketches-java") {
    import spark.implicits._
    graft.sql.GraftExtensions.install(spark)
    val out = Files.createTempDirectory("graft-dsq").toString + "/t"
    // 2 groups x 2 time buckets; values are a shuffled arithmetic
    // sequence so every quantile has a known closed form
    (0 until 400)
      .map(i => (1700000000000L + (i % 2) * 1000L,
        if (i % 2 == 0) "a" else "b", ((i * 37) % 400) * 0.5))
      .toDF("__time", "grp", "v")
      .groupBy(col("__time"), col("grp"))
      .agg(collect_list(col("v")).as("vs"))
      .select(col("__time"), col("grp"),
        expr("ds_quantiles_from_vals(vs)").as("qs"))
      .coalesce(1)
      .write.format("druid")
      .option("complexTypes", "qs:quantilesDoublesSketch")
      .mode("overwrite").save(out)
    val back = spark.read.format("druid").load(out)
    assert(back.schema("qs").metadata.getString("druid.complexType") ==
      "quantilesDoublesSketch")
    // merge the raw blobs per group OUTSIDE Spark (plain
    // datasketches-java), exactly what Druid's own aggregator does
    val perGroup = back.select(col("grp"), col("qs")).collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        val u = org.apache.datasketches.quantiles.DoublesUnion.builder()
          .setMaxK(2048).build()
        rows.foreach { r =>
          u.union(org.apache.datasketches.quantiles.DoublesSketch.wrap(
            org.apache.datasketches.memory.Memory.wrap(
              r.getAs[Array[Byte]]("qs"))))
        }
        val sk = u.getResult
        (g, sk.getN, sk.getQuantile(0.5,
          org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE))
      }
    // group "a" holds the 200 even multiples of 37 mod 400 halved...
    // simpler: each group's value set is known exactly — recompute
    val vals = (0 until 400).map(i =>
      (if (i % 2 == 0) "a" else "b", ((i * 37) % 400) * 0.5))
    for ((g, n, p50) <- perGroup) {
      val mine = vals.filter(_._1 == g).map(_._2).sorted
      assert(n == mine.length)
      val rank = math.max(1, math.ceil(0.5 * mine.length).toInt)
      assert(p50 == mine(rank - 1),
        s"group $g: sketch p50 $p50 vs exact ${mine(rank - 1)}")
    }
  }

  test("complex typeName lives in the segment descriptor, not just the manifest") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-dsdesc").toString + "/t"
    (0 until 100)
      .map(i => (1700000000000L + i, (i % 10).toLong))
      .toDF("__time", "uid")
      .groupBy(col("__time") % 10)
      .agg(min(col("__time")).as("__time"), hll_sketch_agg(col("uid")).as("h"))
      .select(col("__time"), col("h"))
      .coalesce(1)
      .write.format("druid")
      .option("complexTypes", "h:HLLSketch")
      .mode("overwrite").save(out)
    // kill every catalog cache layer except the segments themselves:
    // the manifest is documented as losable, so the tag must survive
    // from the segment's own column descriptor
    Files.deleteIfExists(java.nio.file.Paths.get(out, "_graft_manifest.json"))
    val log = java.nio.file.Paths.get(out, "_graft_log")
    if (Files.isDirectory(log)) {
      val s = Files.list(log)
      try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
    }
    val segs = druid.DruidTableUtil.discoverSegments(out)
    segs.foreach(d =>
      Files.deleteIfExists(java.nio.file.Paths.get(d, "_graft_meta.json")))
    val meta = spark.read.format("druid").load(out).schema("h").metadata
    assert(meta.contains("druid.complexType") &&
      meta.getString("druid.complexType") == "HLLSketch",
      "descriptor lost the complex typeName once the manifest cache was gone")
  }

  test("COMPLEX thetaSketch blobs heapify and set-operate with datasketches-java") {
    import spark.implicits._
    graft.sql.GraftExtensions.install(spark)
    val out = Files.createTempDirectory("graft-dstheta").toString + "/t"
    // group a holds ids 0..39, group b holds 20..59: |a|=40, |b|=40,
    // |a∩b|=20, |a\b|=20 — all exact below k
    (0 until 2000)
      .map(i => (1700000000000L + i, if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) ((i / 2) % 40).toLong else ((i / 2) % 40 + 20).toLong))
      .toDF("__time", "grp", "uid")
      .groupBy(col("__time") % 500, col("grp"))
      .agg(min(col("__time")).as("__time"), first(col("grp")).as("g"),
        collect_set(col("uid")).as("uids"))
      .select(col("__time"), col("g").as("grp"),
        expr("ds_theta_from_vals(uids)").as("users_theta"))
      .coalesce(1)
      .write.format("druid")
      .option("complexTypes", "users_theta:thetaSketch")
      .mode("overwrite").save(out)

    val back = spark.read.format("druid").load(out)
    assert(back.schema("users_theta").metadata
      .getString("druid.complexType") == "thetaSketch")

    // raw-bytes path: heapify every blob with datasketches-java, union
    // per group, then intersect/difference across groups
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    val unions = back.select(col("grp"), col("users_theta")).collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        val u = SetOperation.builder().buildUnion()
        rows.foreach(r =>
          u.union(Memory.wrap(r.getAs[Array[Byte]]("users_theta"))))
        g -> u.getResult(true, null)
      }
    assert(math.round(unions("a").getEstimate) == 40L)
    assert(math.round(unions("b").getEstimate) == 40L)
    val i = SetOperation.builder().buildIntersection()
    i.intersect(unions("a")); i.intersect(unions("b"))
    assert(math.round(i.getResult(true, null).getEstimate) == 20L)
    // and the registered SQL surface agrees end to end
    val viaSql = back.agg(
        expr("ds_theta_union_agg(CASE WHEN grp = 'a' THEN users_theta END)")
          .as("a_sk"),
        expr("ds_theta_union_agg(CASE WHEN grp = 'b' THEN users_theta END)")
          .as("b_sk"))
      .selectExpr("ds_theta_estimate(ds_theta_intersect(a_sk, b_sk)) AS nb",
        "ds_theta_estimate(ds_theta_anotb(a_sk, b_sk)) AS na")
      .head
    assert(viaSql.getLong(0) == 20L && viaSql.getLong(1) == 20L)
  }

  test("untagged binary columns keep the plain 'binary' typeName") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-plainbin").toString + "/t"
    Seq((1700000000000L, Array[Byte](1, 2, 3)))
      .toDF("__time", "payload").coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    val f = spark.read.format("druid").load(out).schema("payload")
    assert(!f.metadata.contains("druid.complexType"))
  }
}
