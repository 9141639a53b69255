package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.format.Compression
import graft.write.SegmentWriter
import graft.write.SegmentWriter._

class DruidSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeFixture(n: Int): String = {
    val dir = Files.createTempDirectory("graft-dsv2")
    val time = Array.tabulate(n)(i => 1700000000000L + i * 60000L)
    SegmentWriter.write(dir.resolve("seg-a"), time.take(n / 2), Seq(
      "dim" -> StringValues(Array.tabulate(n / 2)(i => if (i % 11 == 0) null else s"k${i % 7}")),
      "metric" -> LongValues(Array.tabulate(n / 2)(_.toLong)),
      "score" -> DoubleValues(Array.tabulate(n / 2)(_ * 0.5))),
      compression = Compression.LZ4)
    SegmentWriter.write(dir.resolve("seg-b"), time.drop(n / 2), Seq(
      "dim" -> StringValues(Array.tabulate(n - n / 2)(i => s"k${i % 5}")),
      "metric" -> LongValues(Array.tabulate(n - n / 2)(i => (i + 1000).toLong)),
      "score" -> DoubleValues(Array.tabulate(n - n / 2)(_ * 0.25))),
      compression = Compression.ZSTD)
    dir.toString
  }

  test("multi-segment read with schema, rows, values") {
    val dir = writeFixture(2000)
    val df = spark.read.format("druid").load(dir)
    assert(df.columns.toSeq == Seq("__time", "dim", "metric", "score"))
    assert(df.count() == 2000)
    val nulls = df.filter(col("dim").isNull).count()
    assert(nulls == (0 until 1000).count(_ % 11 == 0))
    val sum = df.agg(org.apache.spark.sql.functions.sum("metric")).head.getLong(0)
    assert(sum == (0 until 1000).map(_.toLong).sum + (0 until 1000).map(_ + 1000L).sum)
  }

  test("projection pruning and count(*) without decode") {
    val dir = writeFixture(500)
    val df = spark.read.format("druid").load(dir).select("metric")
    assert(df.columns.toSeq == Seq("metric"))
    assert(spark.read.format("druid").load(dir).count() == 500)
  }

  test("row-range splits produce multiple partitions") {
    val dir = writeFixture(4000)
    val df = spark.read.format("druid").option("rowsPerSplit", 256).load(dir)
    assert(df.rdd.getNumPartitions >= 8)
    assert(df.count() == 4000)
    // values identical to an unsplit read
    val whole = spark.read.format("druid").load(dir)
      .agg(sum("metric"), sum("score")).head
    val split = df.agg(sum("metric"), sum("score")).head
    assert(whole == split)
  }

  test("scan planning opens each segment exactly once per query") {
    import scala.jdk.CollectionConverters._
    val dir = writeFixture(3000)
    val df = spark.read.format("druid").load(dir)
      .filter(col("metric") >= 0).groupBy("dim").count()
    def opens(): Map[String, Long] = graft.format.DruidSegment.openCounts
      .asScala.collect { case (d, n) if d.startsWith(dir) => d -> n.toLong }.toMap
    val before = opens()
    df.collect()
    val delta = opens().map { case (d, n) => n - before.getOrElse(d, 0L) }
    // per segment: 1 planner open (memoized across planInputPartitions +
    // estimateStatistics) + 1 reader-task open (one row-range split each
    // at 1500 rows/segment vs the 4M default rowsPerSplit)
    assert(delta.size == 2 && delta.forall(_ == 2),
      s"planning re-opened segments: per-segment opens = $delta")
  }

  test("time-range filter prunes segments and stays correct") {
    val dir = writeFixture(2000)
    // boundary inside seg-b's interval
    val cut = new java.sql.Timestamp(1700000000000L + 1500L * 60000L)
    val df = spark.read.format("druid").load(dir)
      .filter(col("__time") >= lit(cut))
    assert(df.count() == 500)
    val explained = df.queryExecution.executedPlan.toString
    assert(explained.contains("DruidScan"))
  }

  test("spark write -> druid -> read round-trip") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-dsv2-write").toString + "/t"
    val src = (0 until 1000).map(i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L),
        s"u${i % 13}", i.toLong, i * 0.125))
      .toDF("__time", "user", "n", "x")
    src.repartition(3).write.format("druid").mode("overwrite").save(out)
    val back = spark.read.format("druid").load(out)
    assert(back.count() == 1000)
    assert(back.agg(sum("n")).head.getLong(0) == (0 until 1000).map(_.toLong).sum)
    assert(back.select(countDistinct("user")).head.getLong(0) == 13)
    // overwrite truncates
    src.limit(10).write.format("druid").mode("overwrite").save(out)
    assert(spark.read.format("druid").load(out).count() == 10)
  }

  test("limit pushdown caps partition work") {
    val dir = writeFixture(2000)
    val rows = spark.read.format("druid").load(dir).limit(5).collect()
    assert(rows.length == 5)
  }
}
class DruidBitmapFilterSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("string equality filter uses bitmap row skipping and stays correct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm").toString + "/t"
    import spark.implicits._
    val src = (0 until 20000).map(i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L),
        s"k${i % 997}", i.toLong)).toDF("__time", "dim", "n")
    src.repartition(2).write.format("druid").mode("overwrite").save(dir)

    val df = spark.read.format("druid").load(dir)
    val filtered = df.filter(col("dim") === "k13")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("StrValues(dim,"), s"pushdown missing in: $plan")
    val got = filtered.agg(count(lit(1)), sum("n")).head
    val exp = src.filter(col("dim") === "k13").agg(count(lit(1)), sum("n")).head
    assert(got == exp)

    // IN filter
    val got2 = df.filter(col("dim").isin("k1", "k2", "nope"))
      .agg(count(lit(1)).as("c")).head.getLong(0)
    val exp2 = src.filter(col("dim").isin("k1", "k2", "nope"))
      .agg(count(lit(1)).as("c")).head.getLong(0)
    assert(got2 == exp2)

    // absent value -> empty, not error
    assert(df.filter(col("dim") === "absent").count() == 0)
  }

  test("bitmap round-trip at the format layer") {
    import graft.format._
    val vals = Seq("b", "a", null, "b", "c", "a", "b")
    val bytes = StringColumn.write(vals)
    val col = new StringColumn(java.nio.ByteBuffer.wrap(bytes), 0, bytes.length)
    assert(col.bitmaps.isDefined)
    val idB = col.dictIdOf("b")
    assert(idB >= 0)
    val bm = col.bitmapFor(idB).get
    assert(bm.toArray.toSeq == Seq(0, 3, 6))
    assert(col.dictIdOf("zz") == -1)
    // null sorts first; its bitmap covers row 2
    assert(col.bitmapFor(0).get.toArray.toSeq == Seq(2))
  }
}
class DruidMultiValueSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("multi-value string dims round-trip as ArrayType and explode correctly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mv").toString + "/t"
    val src = (0 until 3000).map { i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L),
        (0 until i % 4).map(k => s"tag${(i + k) % 50}"),
        i.toLong)
    }.toDF("__time", "tags", "n")
    src.repartition(2).write.format("druid").mode("overwrite").save(dir)

    val back = spark.read.format("druid").load(dir)
    assert(back.schema("tags").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true))
    assert(back.count() == 3000)

    val gotTags = back.select(explode(col("tags")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expTags = src.select(explode(col("tags")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotTags == expTags)

    // per-row array sizes survive
    val gotSizes = back.select(col("n"), size(col("tags")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0 until 3000).forall(i => gotSizes(i.toLong) == i % 4))

    // the multi-value projection reads through the VECTORIZED path:
    // DSv2 columnar scans surface as ColumnarToRow in the physical plan
    val plan = back.select(explode(col("tags"))).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"MV scan not columnar:\n$plan")
  }
}
class DruidNumericNullSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("numeric nulls round-trip through null bitmaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nn").toString + "/t"
    val src = (0 until 5000).map { i =>
      (new java.sql.Timestamp(1700000000000L + i * 1000L),
        if (i % 7 == 0) None else Some(i.toLong),
        if (i % 11 == 0) None else Some(i * 0.5))
    }.toDF("__time", "n", "x")
    src.repartition(2).write.format("druid").mode("overwrite").save(dir)

    val back = spark.read.format("druid").load(dir)
    assert(back.filter(col("n").isNull).count() == (0 until 5000).count(_ % 7 == 0))
    assert(back.filter(col("x").isNull).count() == (0 until 5000).count(_ % 11 == 0))
    val gotSum = back.agg(sum("n"), round(sum("x"), 2)).head
    val expSum = src.agg(sum("n"), round(sum("x"), 2)).head
    assert(gotSum == expSum)
  }
}
class ReviewFixesSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("MV null rows round-trip as NULL, not empty array") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mvnull").toString + "/t"
    val src = Seq(
      (new java.sql.Timestamp(1000L), Some(Seq("a", "b")), 1L),
      (new java.sql.Timestamp(2000L), None, 2L),                 // NULL array
      (new java.sql.Timestamp(3000L), Some(Seq.empty[String]), 3L), // empty array
      (new java.sql.Timestamp(4000L), Some(Seq("c")), 4L)
    ).toDF("__time", "tags", "n")
    src.coalesce(1).write.format("druid").mode("overwrite").save(dir)
    val back = spark.read.format("druid").load(dir)
    assert(back.filter(col("tags").isNull).select("n").head.getLong(0) == 2L)
    assert(back.filter(col("tags").isNotNull && size(col("tags")) === 0)
      .select("n").head.getLong(0) == 3L)
  }

  test("sub-millisecond __time filter bound never over-prunes segments") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-subms").toString + "/t"
    val cut = 1700000000123L
    Seq((new java.sql.Timestamp(cut), 1L), (new java.sql.Timestamp(cut + 5000), 2L))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    // filter value 0.5ms past the row: < cut+0.0005s must include row 1
    val t = new java.sql.Timestamp(cut)
    t.setNanos(((cut % 1000) * 1000000 + 500000).toInt)
    val got = spark.read.format("druid").load(dir)
      .filter(col("__time") < lit(t)).select("n").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("bitmapIndexes=false write option skips bitmap trailers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nobm").toString + "/t"
    (0 until 100).map(i => (new java.sql.Timestamp(i * 1000L), s"k$i"))
      .toDF("__time", "dim").coalesce(1)
      .write.format("druid").option("bitmapIndexes", "false")
      .mode("overwrite").save(dir)
    val seg = graft.format.DruidSegment.open(
      graft.sources.druid.DruidTableUtil.discoverSegments(dir).head)
    val graft.format.StringColumnData(sc) = seg.column("dim"): @unchecked
    assert(sc.bitmaps.isEmpty)
    // reads still work, filters fall back to residual evaluation
    assert(spark.read.format("druid").load(dir)
      .filter(col("dim") === "k7").count() == 1)
  }
}
class RuntimeFilterSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("runtime IN filter tightens partitions (DPP contract)") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = java.nio.file.Files.createTempDirectory("graft-rtf").toString + "/t"
    (0 until 1000).map(i => (new java.sql.Timestamp(1700000000000L + i * 1000L), s"k${i % 10}", i.toLong))
      .toDF("__time", "dim", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)

    val schema = graft.sources.druid.DruidTableUtil.schemaFor(dir)
    val builder = new graft.sources.druid.DruidScanBuilder(
      dir, schema, new CaseInsensitiveStringMap(java.util.Map.of()))
    val scan = builder.build()
    assert(scan.isInstanceOf[SupportsRuntimeFiltering])
    val rtf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rtf.filterAttributes().map(_.describe()).toSet == Set("__time", "dim"))
    rtf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("dim", Array("k3", "k5"))))
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    val p = parts.head.asInstanceOf[graft.sources.druid.DruidInputPartition]
    assert(p.preds == Seq(graft.sources.druid.StrValues("dim", Seq("k3", "k5"))))
  }

  test("runtime IN filter skips whole segments via string envelopes") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = java.nio.file.Files.createTempDirectory("graft-rtz").toString + "/t"
    // dim-clustered: 4 segments with disjoint key envelopes
    (0 until 1000).map(i => (new java.sql.Timestamp(1700000000000L + i * 1000L), f"k$i%04d", i.toLong))
      .toDF("__time", "dim", "n").repartitionByRange(4, col("dim"))
      .write.format("druid").mode("overwrite").save(dir)

    val schema = graft.sources.druid.DruidTableUtil.schemaFor(dir)
    val builder = new graft.sources.druid.DruidScanBuilder(
      dir, schema, new CaseInsensitiveStringMap(java.util.Map.of()))
    val scan = builder.build()
    val before = scan.toBatch.planInputPartitions().length
    assert(before >= 4, s"expected one partition per segment, got $before")
    // a join-delivered runtime filter naming one key must plan exactly
    // the one segment whose envelope holds it
    val scan2 = new graft.sources.druid.DruidScanBuilder(
      dir, schema, new CaseInsensitiveStringMap(java.util.Map.of())).build()
    scan2.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("dim", Array("k0500"))))
    assert(scan2.toBatch.planInputPartitions().length == 1,
      "runtime string filter should prune to a single segment")
  }

  test("planner-driven DPP reaches the scan through a real join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dppe").toString + "/t"
    (0 until 100000).map(i => (new java.sql.Timestamp(1700000000000L + i), f"k${i % 1000}%04d", i.toLong))
      .toDF("__time", "dim", "n").repartitionByRange(8, col("dim"))
      .write.format("druid").mode("overwrite").save(dir)
    // dim side must be file-backed: a LocalRelation folds its filter
    // away and Spark then sees no selective predicate to prune with
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dppd").toString + "/d"
    (0 until 1000).map(i => (f"k$i%04d", if (i == 42) "yes" else "no"))
      .toDF("dim", "label").write.mode("overwrite").parquet(dimPath)

    val joined = spark.read.format("druid").load(dir)
      .join(spark.read.parquet(dimPath).filter(col("label") === "yes"), "dim")
      .groupBy(col("label")).agg(sum(col("n")).as("s"))
    val rows = joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic pruning subquery in plan:\n$plan")
    assert(plan.contains("StrValues(dim,"),
      s"runtime filter never reached the druid scan:\n$plan")
    // i % 1000 == 42 -> 100 rows: 42, 1042, ..., 99042
    assert(rows.length == 1 &&
      rows.head.getLong(1) == (0 until 100).map(k => 42L + 1000L * k).sum)
  }
}
class CountPushdownSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = graft.SparkTestSession.spark

  test("unfiltered count(*) is answered from metadata (single partition)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cnt").toString + "/t"
    (0 until 12345).map(i => (new java.sql.Timestamp(i * 1000L), i.toLong))
      .toDF("__time", "n").repartition(3)
      .write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir)
    val counted = df.agg(count(lit(1)))
    assert(counted.head.getLong(0) == 12345)
    val plan = counted.queryExecution.executedPlan.toString
    // complete pushdown: the scan itself outputs count(*) and no
    // aggregate operator remains in the plan
    assert(plan.contains("[count(*)") && !plan.contains("HashAggregate"),
      s"pushdown missing in plan: $plan")
    // filtered count must NOT use the metadata shortcut (filters residual)
    assert(df.filter(col("n") < 100).count() == 100)
  }

  test("min/max(__time) answered from interval metadata with zero block decodes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mm").toString + "/t"
    (0 until 5000).map(i => (new java.sql.Timestamp(1700000000000L + i * 777L), i.toLong))
      .toDF("__time", "n").repartition(3)
      .write.format("druid").mode("overwrite").save(dir)

    val agg = spark.read.format("druid").load(dir)
      .agg(min(col("__time")), max(col("__time")), count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("min(__time)") && !plan.contains("HashAggregate"),
      s"time-bounds pushdown missing in plan: $plan")

    val before = graft.format.Compression.blocksDecoded.get()
    val r = agg.head
    val decoded = graft.format.Compression.blocksDecoded.get() - before
    assert(decoded == 0, s"metadata-answered aggregate decoded $decoded blocks")
    assert(r.getTimestamp(0).getTime == 1700000000000L)
    assert(r.getTimestamp(1).getTime == 1700000000000L + 4999L * 777L)
    assert(r.getLong(2) == 5000L)

    // the same aggregate WITH a filter takes the real scan path and agrees
    val full = spark.read.format("druid").load(dir).filter(col("n") >= 0)
      .agg(min(col("__time")), max(col("__time")), count(lit(1))).head
    assert(full == r)
  }

  test("aggregates stacked on a pushed aggregate stay correct") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stack").toString + "/t"
    (0 until 777).map(i => (new java.sql.Timestamp(1700000000000L + i), i.toLong))
      .toDF("__time", "n").write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir)
    // count() over a complete-pushed aggregate: one row, not 777 — an
    // outer count prunes the inner agg to ZERO expressions, which must
    // not be accepted as a (vacuous) complete pushdown
    assert(df.agg(count(lit(1))).count() == 1L)
    assert(df.agg(min(col("__time")), max(col("__time"))).count() == 1L)
    assert(df.agg(count(lit(1))).head.getLong(0) == 777L)
  }
}
