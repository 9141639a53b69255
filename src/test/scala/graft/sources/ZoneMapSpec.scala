package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.druid.{DruidTableUtil, SegmentCatalog}

class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  /** 4 segments with disjoint `n` ranges (range-partitioned write). */
  private lazy val dir: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-zone").toString + "/t"
    (0 until 4000)
      .map(i => (1700000000000L + (i % 7) * 1000L, i.toLong, (i * 0.5) - 10,
        s"u${i % 5}"))
      .toDF("__time", "n", "x", "who")
      .repartitionByRange(4, col("n"))
      .write.format("druid").mode("overwrite").save(out)
    out
  }

  test("manifest carries per-numeric-column zones") {
    val metas = SegmentCatalog
      .load(dir, DruidTableUtil.discoverSegments(dir)).get
    assert(metas.size == 4)
    for (m <- metas) {
      assert(m.zones.contains("n") && m.zones.contains("x"),
        s"missing zones in $m")
      assert(!m.zones.contains("who"), "string column must not get a zone")
      val (lo, hi) = m.zones("n")
      // range partitioner boundaries are sample-approximate; segments
      // must still be narrow slices, not the full [0, 4000) span
      assert(hi - lo < 2000, s"range-partitioned segment zone too wide: $m")
    }
    // zones tile the full value range
    assert(metas.map(_.zones("n")._1).min <= 0.0)
    assert(metas.map(_.zones("n")._2).max >= 3999.0)
  }

  test("range filter on a zoned column skips disjoint segments") {
    val df = spark.read.format("druid").load(dir)
      .filter(col("n") >= 1000 && col("n") <= 1999)
    // range-partitioner boundaries are sample-approximate, so the
    // 1000-row window may straddle one boundary — but never 3 segments
    assert(df.rdd.getNumPartitions <= 2,
      s"zone pruning failed: ${df.rdd.getNumPartitions} partitions")
    assert(df.count() == 1000)
    // equality: single segment too
    val one = spark.read.format("druid").load(dir).filter(col("n") === 2500)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 1)
    // double column with an impossible range -> zero partitions
    val none = spark.read.format("druid").load(dir).filter(col("x") > 1e9)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("edge-overlapping filters stay correct (residual re-check)") {
    // boundary value 999/1000 straddles two segments; rows must be exact
    val df = spark.read.format("druid").load(dir)
      .filter(col("n") > 998 && col("n") < 1002)
    assert(df.count() == 3) // 999, 1000, 1001
    assert(df.select(sum(col("n"))).head().getLong(0) == 999L + 1000L + 1001L)
  }

  test("cluster-by compaction narrows zones and enables pruning") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-clu").toString + "/t"
    // round-robin landing: every segment spans the full n range
    (0 until 4000).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "n")
      .repartition(4).write.format("druid").mode("overwrite").save(out)
    val wide = spark.read.format("druid").load(out)
      .filter(col("n") >= 1000 && col("n") <= 1999)
    assert(wide.rdd.getNumPartitions == 4, "unclustered should not prune")

    val st = graft.write.Compaction.compact(spark, out,
      targetRowsPerSegment = 1000, clusterBy = Some("n"))
    assert(st.segmentsAfter == 4)
    val narrow = spark.read.format("druid").load(out)
      .filter(col("n") >= 1000 && col("n") <= 1999)
    // range-partitioner boundaries are sample-approximate: the 1000-row
    // window usually lands in <= 2 slices but can straddle 3 — the
    // invariant is that clustering enables pruning AT ALL (round-robin
    // segments above never prune)
    assert(narrow.rdd.getNumPartitions < st.segmentsAfter,
      s"clustered read did not prune: ${narrow.rdd.getNumPartitions}")
    assert(narrow.count() == 1000)
  }

  test("composite cluster-by narrows both columns' zones") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-clu2").toString + "/t"
    // 4 groups x 1000 rows, arrival order interleaved across groups
    (0 until 4000).map(i => (1700000000000L + i, s"g${i % 4}", (i / 4).toLong))
      .toDF("__time", "who", "n")
      .repartition(4).write.format("druid").mode("overwrite").save(out)
    val st = graft.write.Compaction.compact(spark, out,
      targetRowsPerSegment = 500, clusterBy = Some("who, n"))
    // leading-column equality + secondary range prunes to that group's
    // slice of segments; range boundaries are sample-approximate, so
    // allow straddles — the invariant is pruning well below the table
    // (round-robin segments would all survive)
    val one = spark.read.format("druid").load(out)
      .filter(col("who") === "g2" && col("n") < 100)
    assert(one.rdd.getNumPartitions < st.segmentsAfter / 2,
      s"composite clustering did not prune: ${one.rdd.getNumPartitions}" +
        s" of ${st.segmentsAfter}")
    assert(one.count() == 100)
  }

  test("OR trees prune segments when no disjunct could match") {
    // n-range-clustered: each segment holds a narrow n slice
    val two = spark.read.format("druid").load(dir)
      .filter(col("n") === 100 || col("n") === 3800)
    assert(two.rdd.getNumPartitions <= 2,
      s"disjunctive pruning failed: ${two.rdd.getNumPartitions}")
    assert(two.count() == 2)
    // an unprunable disjunct disables pruning but stays correct
    val all = spark.read.format("druid").load(dir)
      .filter(col("n") === 100 || col("who").contains("4"))
    assert(all.count() == 1 + 800) // u4 rows: 4000/5
    // OR of two impossible ranges -> zero partitions
    val none = spark.read.format("druid").load(dir)
      .filter(col("n") < -5L || col("n") > 10000000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("manifest carries per-string-column envelopes") {
    val metas = SegmentCatalog
      .load(dir, DruidTableUtil.discoverSegments(dir)).get
    for (m <- metas) {
      assert(m.strZones.contains("who"), s"missing string zone in $m")
      val (lo, hi) = m.strZones("who")
      assert(lo == "u0" && hi == "u4") // every segment holds all 5 values
      assert(!m.strZones.contains("n"), "numeric column must not get a string zone")
    }
  }

  test("string equality on a dim-clustered table skips disjoint segments") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-szone").toString + "/t"
    (0 until 4000).map(i => (1700000000000L + i, f"u$i%04d", i.toLong))
      .toDF("__time", "who", "n")
      .repartitionByRange(4, col("who"))
      .write.format("druid").mode("overwrite").save(out)

    val one = spark.read.format("druid").load(out).filter(col("who") === "u0100")
    assert(one.rdd.getNumPartitions == 1,
      s"string zone pruning failed: ${one.rdd.getNumPartitions}")
    assert(one.count() == 1)

    // IN across two distant values -> at most 2 segments
    val two = spark.read.format("druid").load(out)
      .filter(col("who").isin("u0100", "u3900"))
    assert(two.rdd.getNumPartitions <= 2)
    assert(two.count() == 2)

    // values outside every envelope (below and above) -> zero partitions
    for (v <- Seq("a", "zzz")) {
      val none = spark.read.format("druid").load(out).filter(col("who") === v)
      assert(none.rdd.getNumPartitions == 0, s"'$v' should prune everything")
      assert(none.count() == 0)
    }
  }

  test("string envelopes ignore nulls and all-null columns never prune") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-snull").toString + "/t"
    (0 until 100)
      .map(i => (1700000000000L + i,
        if (i % 2 == 0) null else f"v$i%03d", null: String))
      .toDF("__time", "who", "empty")
      .repartition(2).write.format("druid").mode("overwrite").save(out)
    val metas = SegmentCatalog
      .load(out, DruidTableUtil.discoverSegments(out)).get
    for (m <- metas) {
      assert(m.strZones.contains("who"), "mixed-null column keeps its envelope")
      assert(!m.strZones.contains("empty"), "all-null column must get no envelope")
    }
    val df = spark.read.format("druid").load(out).filter(col("who") === "v051")
    assert(df.count() == 1)
    // null-safe equality carries no inferred IS NOT NULL, so only the
    // (missing) envelope could prune here
    val onEmpty = spark.read.format("druid").load(out).filter(col("empty") <=> "x")
    assert(onEmpty.rdd.getNumPartitions == 2, "no envelope -> never pruned")
    assert(onEmpty.count() == 0)
    // plain equality implies IS NOT NULL, which the null counts prune
    val notNull = spark.read.format("druid").load(out).filter(col("empty") === "x")
    assert(notNull.rdd.getNumPartitions == 0, "all-null segments skip on IS NOT NULL")
    assert(notNull.count() == 0)
  }

  test("segments without zones are never pruned (fallback safety)") {
    // strip the manifest AND every per-segment sidecar: only then does
    // planning fall back to binary metadata opens, which carry no zones
    val manifest = new java.io.File(dir, SegmentCatalog.FileName)
    val body = Files.readAllBytes(manifest.toPath)
    val sidecars = DruidTableUtil.discoverSegments(dir)
      .map(d => new java.io.File(d, SegmentCatalog.SidecarName))
      .filter(_.isFile)
      .map(f => f -> Files.readAllBytes(f.toPath))
    try {
      assert(manifest.delete())
      sidecars.foreach { case (f, _) => assert(f.delete()) }
      val df = spark.read.format("druid").load(dir)
        .filter(col("n") >= 1000 && col("n") <= 1999)
      assert(df.count() == 1000) // correct, just unpruned
      assert(df.rdd.getNumPartitions == 4)
    } finally {
      Files.write(manifest.toPath, body)
      sidecars.foreach { case (f, b) => Files.write(f.toPath, b) }
    }
  }
}
