package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Write-path behavior: typed buffering at volume, staged atomic
  * overwrite, and timestamp type fidelity across a round trip.
  */
class DruidWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("non-__time timestamp columns round-trip as TimestampType with micros precision") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-ts").toString + "/t"
    val src = (0 until 100).map { i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L),
        // sub-millisecond precision: micros must survive
        java.time.Instant.ofEpochSecond(1700000000L + i, i * 1000L),
        i.toLong)
    }.toDF("__time", "seen_at", "n")
    src.write.format("druid").mode("overwrite").save(out)

    val back = spark.read.format("druid").load(out)
    assert(back.schema("seen_at").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val diff = back.select(
        sum(unix_micros(col("seen_at")) -
          (lit(1700000000000000L) + col("n") * 1000000L + col("n"))))
      .head.getLong(0)
    assert(diff == 0L, "micros precision lost in round trip")
  }

  test("compaction merges small segments and preserves every row") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact").toString + "/t"
    val src = (0 until 10000).map(i =>
        (1700000000000L + i * 1000L, i.toLong, s"u${i % 97}"))
      .toDF("__time", "n", "who")
    // land as many tiny segments, the post-streaming-ingest shape
    src.repartition(8).write.format("druid").mode("overwrite").save(out)
    assert(graft.sources.druid.DruidTableUtil.discoverSegments(out).size == 8)

    val st = graft.write.Compaction.compact(spark, out, targetRowsPerSegment = 5000)
    assert(st == graft.write.Compaction.Stats(10000, 8, 2), s"got $st")

    val back = spark.read.format("druid").load(out)
    assert(back.count() == 10000)
    val expected = src.select(col("__time"), col("n"), col("who"))
    val actual = back.select(unix_millis(col("__time")).as("__time"),
      col("n"), col("who"))
    assert(actual.exceptAll(expected).isEmpty &&
      expected.exceptAll(actual).isEmpty, "compaction changed the data")
    // planning manifest refreshed for the new layout
    assert(graft.sources.druid.SegmentCatalog
      .load(out, graft.sources.druid.DruidTableUtil.discoverSegments(out))
      .exists(_.size == 2))
  }

  test("interval-scoped overwrite (REPLACE WHERE) backfills one day atomically") {
    import spark.implicits._
    val base = 1700006400000L // UTC midnight
    val day = 86400000L
    val parent = Files.createTempDirectory("graft-replace").toString
    val out = parent + "/t"
    (0 until 300).map(i => (base + (i % 3) * day + (i / 3) * 1000L, i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").option("segmentGranularity", "day")
      .mode("overwrite").save(out)
    spark.conf.set("spark.sql.catalog.rwcat",
      classOf[graft.sources.druid.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcat.root", parent)

    def dayCond(d: Int) =
      col("__time") >= lit(new java.sql.Timestamp(base + d * day)) &&
        col("__time") < lit(new java.sql.Timestamp(base + (d + 1) * day))

    // replace day 1 with 50 marker rows
    (0 until 50).map(i => (new java.sql.Timestamp(base + day + i * 1000L),
        1000L + i))
      .toDF("__time", "n").coalesce(1)
      .writeTo("rwcat.t").overwrite(dayCond(1))
    val back = spark.read.format("druid").load(out)
    assert(back.count() == 250)
    val day1 = back.filter(dayCond(1)).agg(count(lit(1)), min(col("n"))).head
    assert(day1.getLong(0) == 50 && day1.getLong(1) == 1000L,
      "day 1 was not replaced by the marker rows")
    assert(back.filter(dayCond(0)).count() == 100 &&
      back.filter(dayCond(2)).count() == 100, "other days were touched")

    // replacement rows straying outside the range: job fails, table intact
    intercept[Exception] {
      Seq((new java.sql.Timestamp(base), 9999L)).toDF("__time", "n")
        .writeTo("rwcat.t").overwrite(dayCond(1))
    }
    assert(spark.read.format("druid").load(out).count() == 250)

    // a range that splits a segment: rejected, table intact
    intercept[Exception] {
      Seq((new java.sql.Timestamp(base + 2 * day), 1L)).toDF("__time", "n")
        .writeTo("rwcat.t")
        .overwrite(col("__time") >= lit(new java.sql.Timestamp(base + 2 * day)) &&
          col("__time") < lit(new java.sql.Timestamp(base + 2 * day + 1000L)))
    }
    assert(spark.read.format("druid").load(out).count() == 250)
  }

  test("compression write option round-trips with every codec") {
    import spark.implicits._
    val src = (0 until 5000).map(i =>
        (1700000000000L + i, i.toLong, i * 0.5, s"s${i % 11}"))
      .toDF("__time", "n", "d", "s")
    Seq("zstd", "lzf", "uncompressed", "none").foreach { c =>
      val out = Files.createTempDirectory(s"graft-codec-$c").toString + "/t"
      src.coalesce(1).write.format("druid")
        .option("compression", c).mode("overwrite").save(out)
      val back = spark.read.format("druid").load(out)
        .agg(count(lit(1)), sum(col("n")), sum(col("d")),
             countDistinct(col("s"))).head
      assert(back.getLong(0) == 5000L, s"codec $c lost rows")
      assert(back.getLong(1) == 4999L * 5000 / 2, s"codec $c corrupted longs")
      assert(back.getDouble(2) == 4999L * 5000 / 4.0, s"codec $c corrupted doubles")
      assert(back.getLong(3) == 11L, s"codec $c corrupted strings")
    }
    val err = intercept[Exception] {
      src.write.format("druid").option("compression", "snappy")
        .mode("overwrite")
        .save(Files.createTempDirectory("graft-codec-bad").toString + "/t")
    }
    assert(err.getMessage.contains("compression"))
  }

  test("incremental compaction merges only undersized segments") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-inc").toString + "/t"
    // 2 full segments + 6 stragglers (the post-streaming shape)
    (0 until 10000).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "n").repartition(2)
      .write.format("druid").mode("overwrite").save(out)
    (10000 until 10600).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "n").repartition(6)
      .write.format("druid").mode("append").save(out)
    val bigDirs = graft.sources.druid.SegmentCatalog.metaFor(out)
      .filter(_.rows >= 5000).map(_.dir).toSet
    assert(bigDirs.size == 2)

    val st = graft.write.Compaction.compactIncremental(spark, out,
      targetRowsPerSegment = 5000)
    // only the 600 straggler rows were rewritten; 8 -> 3 segments
    assert(st == graft.write.Compaction.Stats(600, 8, 3), s"got $st")
    val after = graft.sources.druid.SegmentCatalog.metaFor(out)
    assert(bigDirs.subsetOf(after.map(_.dir).toSet),
      "full-sized segments must not be rewritten")
    val back = spark.read.format("druid").load(out)
    assert(back.count() == 10600)
    assert(back.select(sum(col("n"))).head().getLong(0) ==
      (0L until 10600).sum)
    // manifest covers the new layout exactly (no stale fallback)
    assert(graft.sources.druid.SegmentCatalog
      .load(out, graft.sources.druid.DruidTableUtil.discoverSegments(out))
      .exists(_.size == 3))
    // nothing left to do: a second run is a no-op
    assert(graft.write.Compaction.compactIncremental(spark, out, 5000) ==
      graft.write.Compaction.Stats(0, 3, 3))
  }

  test("timestamp null slots round-trip as null") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-tsnull").toString + "/t"
    (0 until 50).map { i =>
      (new java.sql.Timestamp(1700000000000L + i),
        if (i % 7 == 0) null
        else new java.sql.Timestamp(1700000000000L + i * 3),
        i.toLong)
    }.toDF("__time", "seen_at", "n")
      .write.format("druid").mode("overwrite").save(out)
    val back = spark.read.format("druid").load(out)
    assert(back.filter(col("seen_at").isNull).count() == (0 until 50).count(_ % 7 == 0))
  }

  test("failed overwrite job leaves the previous table intact") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-atomic").toString + "/t"
    val original = (0 until 500).map(i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong))
      .toDF("__time", "n")
    original.write.format("druid").mode("overwrite").save(out)

    // a source that blows up mid-job: task for the poisoned partition
    // fails repeatedly, the job aborts, and commit() never runs
    val bomb = udf((n: Long) => {
      if (n == 400L) throw new RuntimeException("boom"); n
    })
    val failing = original.withColumn("n", bomb(col("n")))
    intercept[Exception] {
      failing.repartition(4).write.format("druid").mode("overwrite").save(out)
    }

    val back = spark.read.format("druid").load(out)
    assert(back.count() == 500, "previous table lost after failed overwrite")
    assert(back.agg(sum("n")).head.getLong(0) == (0 until 500).map(_.toLong).sum)
    // no staging litter visible to discovery and none on disk
    val staging = Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.toString).filter(_.contains(".staging"))
    assert(staging.isEmpty, s"staging dirs left behind: ${staging.toSeq}")
  }

  test("segmentGranularity=day writes bucket-aligned segments that time-prune") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-gran").toString + "/t"
    val day = 86400000L
    val t0 = 1700006400000L // 2023-11-15T00:00:00Z, day-aligned
    // 10 days of data, shuffled across the partition
    (0 until 2400).map(i =>
      (new java.sql.Timestamp(t0 + (i % 10) * day + (i / 10) * 1000L), i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").option("segmentGranularity", "day")
      .mode("overwrite").save(out)

    val segDirs = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(d => graft.format.DruidSegment.isSegmentDir(java.nio.file.Paths.get(d)))
    assert(segDirs.length == 10, s"expected 10 day segments, got ${segDirs.length}")

    val df = spark.read.format("druid").load(out)
    assert(df.count() == 2400)
    // a 2-day window must plan partitions for exactly 2 segments
    val twoDays = df.filter(
      col("__time") >= new java.sql.Timestamp(t0 + 3 * day) &&
      col("__time") < new java.sql.Timestamp(t0 + 5 * day))
    assert(twoDays.rdd.getNumPartitions == 2,
      s"day pruning failed: ${twoDays.rdd.getNumPartitions} partitions")
    assert(twoDays.count() == 480)
    // per-bucket intervals are exact, so time-bound pushdown still works
    val mm = df.agg(min("__time"), max("__time")).head
    assert(mm.getTimestamp(0).getTime == t0)
    assert(mm.getTimestamp(1).getTime == t0 + 9 * day + 239 * 1000L)
  }

  test("granularity bucket starts honor UTC calendar boundaries") {
    def bucketStart(ms: Long, g: String): Long = graft.sql.DruidTime.granularity(g).floor(ms)
    val t = java.time.Instant.parse("2023-07-15T13:45:30.123Z").toEpochMilli
    assert(bucketStart(t, "hour") ==
      java.time.Instant.parse("2023-07-15T13:00:00Z").toEpochMilli)
    assert(bucketStart(t, "day") ==
      java.time.Instant.parse("2023-07-15T00:00:00Z").toEpochMilli)
    assert(bucketStart(t, "month") ==
      java.time.Instant.parse("2023-07-01T00:00:00Z").toEpochMilli)
    assert(bucketStart(t, "year") ==
      java.time.Instant.parse("2023-01-01T00:00:00Z").toEpochMilli)
    assert(bucketStart(t, "minute") ==
      java.time.Instant.parse("2023-07-15T13:45:00Z").toEpochMilli)
    assert(bucketStart(t, "fifteen_minute") ==
      java.time.Instant.parse("2023-07-15T13:45:00Z").toEpochMilli)
    // 2023-07-15 is a Saturday; its ISO week starts Monday 07-10
    assert(bucketStart(t, "week") ==
      java.time.Instant.parse("2023-07-10T00:00:00Z").toEpochMilli)
    // a Monday is its own week start
    val mon = java.time.Instant.parse("1970-01-05T07:00:00Z").toEpochMilli
    assert(bucketStart(mon, "week") ==
      java.time.Instant.parse("1970-01-05T00:00:00Z").toEpochMilli)
    // pre-epoch floors DOWN (floorDiv, not truncation toward zero)
    val pre = java.time.Instant.parse("1969-12-31T22:10:00Z").toEpochMilli
    assert(bucketStart(pre, "day") ==
      java.time.Instant.parse("1969-12-31T00:00:00Z").toEpochMilli)
    assert(bucketStart(pre, "year") ==
      java.time.Instant.parse("1969-01-01T00:00:00Z").toEpochMilli)
    assert(bucketStart(pre, "week") ==
      java.time.Instant.parse("1969-12-29T00:00:00Z").toEpochMilli)
    // quarters are calendar quarters: 2023-07-15 is in Q3
    assert(bucketStart(t, "quarter") ==
      java.time.Instant.parse("2023-07-01T00:00:00Z").toEpochMilli)
  }

  test("month-granularity write buckets by calendar month and prunes") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-month").toString + "/t"
    // 3 calendar months of varying length
    val jan = java.time.Instant.parse("2023-01-10T00:00:00Z").toEpochMilli
    val feb = java.time.Instant.parse("2023-02-20T00:00:00Z").toEpochMilli
    val mar = java.time.Instant.parse("2023-03-05T00:00:00Z").toEpochMilli
    (Seq.fill(50)(jan) ++ Seq.fill(60)(feb) ++ Seq.fill(70)(mar))
      .zipWithIndex.map { case (t, i) => (t + i, i.toLong) }
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").option("segmentGranularity", "month")
      .mode("overwrite").save(dir)
    assert(graft.sources.druid.DruidTableUtil.discoverSegments(dir).size == 3)
    val feb0 = java.time.Instant.parse("2023-02-01T00:00:00Z")
    val mar0 = java.time.Instant.parse("2023-03-01T00:00:00Z")
    val febOnly = spark.read.format("druid").load(dir)
      .filter(col("__time") >= java.sql.Timestamp.from(feb0) &&
        col("__time") < java.sql.Timestamp.from(mar0))
    assert(febOnly.rdd.getNumPartitions == 1,
      s"month pruning failed: ${febOnly.rdd.getNumPartitions}")
    assert(febOnly.count() == 60)
  }

  test("concurrent appends both land; the manifest self-heals") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files
      .createTempDirectory("graft-concur").toString + "/t"
    (0 until 100).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    // two appends race: unique staging dirs + atomic per-segment moves
    // mean both land, and each commit writes its OWN delta file into
    // the append-only log — no last-wins manifest race, no fallback
    val jobs = Seq((100, 300), (300, 700)).map { case (from, until) =>
      Future {
        (from until until).map(i => (1700000000000L + i, i.toLong))
          .toDF("__time", "n").coalesce(2)
          .write.format("druid").mode("append").save(dir)
      }
    }
    Await.result(Future.sequence(jobs), 120.seconds)
    val back = spark.read.format("druid").load(dir)
    assert(back.count() == 700)
    assert(back.select("n").distinct().count() == 700)
    // both racing commits are visible to the planner WITHOUT opening
    // segment metadata: the log carries one delta per commit
    import scala.jdk.CollectionConverters._
    def opens(): Long = graft.format.DruidSegment.openCounts.asScala
      .collect { case (d, c) if d.startsWith(dir) => c.toLong }.sum
    val before = opens()
    val metas = graft.sources.druid.SegmentCatalog.metaFor(dir)
    assert(metas.size == 5 && metas.map(_.rows).sum == 700)
    assert(opens() - before == 0,
      "racing appends forced the planner into fallback metadata opens")
  }

  test("large partition write stays typed (1M rows, single partition)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-big").toString + "/t"
    spark.range(1000000)
      .select(timestamp_millis(lit(1700000000000L) + col("id")).as("__time"),
        col("id").as("n"), (col("id") * 0.5).as("x"),
        concat(lit("k"), col("id") % 31).as("dim"))
      .coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    val back = spark.read.format("druid").load(out)
    assert(back.count() == 1000000)
    val r = back.agg(sum("n"), sum("x"), countDistinct("dim")).head
    assert(r.getLong(0) == 499999500000L)
    assert(math.abs(r.getDouble(1) - 499999500000L * 0.5) < 1e-3)
    assert(r.getLong(2) == 31)
  }
}
