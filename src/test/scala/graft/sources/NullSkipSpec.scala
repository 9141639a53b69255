package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IS NOT NULL pushdown: Spark implies IsNotNull for most predicates;
  * the reader serves it from the numeric null-bitmap trailers so null
  * rows of sparse metrics never decode, and a schema-evolved segment
  * that predates the column skips entirely (every row is null there).
  */
class NullSkipSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("null rows are excluded from the row selection") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nn").toString + "/t"
    // 90% nulls in v
    (0 until 1000).map(i => (1700000000000L + i, i.toLong,
      if (i % 10 == 0) Some(i.toDouble) else None))
      .toDF("__time", "n", "v").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)

    val df = spark.read.format("druid").load(dir).filter(col("v").isNotNull)
    assert(df.count() == 100)
    // the scan description shows the pushed not-null column
    assert(df.queryExecution.executedPlan.toString.contains("NotNull(v)"),
      "IsNotNull not pushed to the scan")

    // direct row-selection check: only the 100 non-null rows survive
    val seg = graft.format.DruidSegment.open(
      graft.sources.druid.DruidTableUtil.discoverSegments(dir).head)
    val part = graft.sources.druid.DruidInputPartition(
      seg.dir.toString, 0, 1000, Seq(graft.sources.druid.NotNull("v")))
    val sel = graft.sources.druid.RowSelectionProbe.build(seg, part)
    assert(sel != null && sel.length == 100)

    // predicates on v imply IsNotNull: same skip, correct result
    assert(spark.read.format("druid").load(dir)
      .filter(col("v") >= 500.0).count() == 50)
  }

  test("IS NULL selects exactly the trailer rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-isn").toString + "/t"
    (0 until 1000).map(i => (1700000000000L + i, i.toLong,
      if (i % 10 == 0) Some(i.toDouble) else None))
      .toDF("__time", "n", "v").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir).filter(col("v").isNull)
    assert(df.count() == 900)
    assert(df.queryExecution.executedPlan.toString.contains("NullOnly(v)"),
      "IsNull not pushed to the scan")
    // no-null column: IS NULL matches nothing, split skips entirely
    assert(spark.read.format("druid").load(dir)
      .filter(col("n").isNull).count() == 0)
  }

  test("COUNT(col) answers from manifest null counts with no decode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cntc").toString + "/t"
    (0 until 1000).map(i => (1700000000000L + i, i.toLong,
      if (i % 4 == 0) Some(i.toDouble) else None))
      .toDF("__time", "n", "v").repartition(3)
      .write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir)
    val counted = df.agg(count(col("v")), count(col("n")), count(lit(1)))
    assert(counted.head().toSeq == Seq(250L, 1000L, 1000L))
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("count(v)") && !plan.contains("HashAggregate"),
      s"count(col) not completely pushed:\n$plan")
    // append a segment WITHOUT v: its rows count for n, zero for v
    (0 until 100).map(i => (1700010000000L + i, i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("append").save(dir)
    val again = spark.read.format("druid").load(dir)
      .agg(count(col("v")), count(col("n"))).head()
    assert(again.toSeq == Seq(250L, 1100L))
  }

  test("MIN/MAX(col) answers from exact zones, null/NaN-safe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mmx").toString + "/t"
    (0 until 1000).map(i => (1700000000000L + i,
      i.toLong * 3 - 500, i * 0.25 - 10,
      if (i % 5 == 0) None else Some(i.toDouble)))
      .toDF("__time", "n", "x", "sparse").repartition(3)
      .write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir)
    val r = df.agg(min(col("n")), max(col("n")), min(col("x")), max(col("x")),
                   min(col("sparse")), max(col("sparse"))).head()
    assert(r.toSeq == Seq(-500L, 2497L, -10.0, 239.75, 1.0, 999.0))
    val plan = df.agg(min(col("n")), max(col("n")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"min/max(col) not completely pushed:\n$plan")

    // a NaN anywhere blocks the pushdown (range can't represent it)
    // and the fallback scan still answers correctly
    val dir2 = Files.createTempDirectory("graft-mmn").toString + "/t"
    (0 until 100).map(i => (1700000000000L + i,
      if (i == 50) Double.NaN else i.toDouble))
      .toDF("__time", "d").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir2)
    val nan = spark.read.format("druid").load(dir2)
    val agg2 = nan.agg(max(col("d")))
    assert(agg2.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "NaN column must not push min/max")
    assert(agg2.head().getDouble(0).isNaN) // Spark: NaN > +Inf

    // an all-null column yields null, still pushed
    val dir3 = Files.createTempDirectory("graft-mme").toString + "/t"
    (0 until 10).map(i => (1700000000000L + i, None: Option[Long]))
      .toDF("__time", "empty").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir3)
    assert(spark.read.format("druid").load(dir3)
      .agg(min(col("empty"))).head().isNullAt(0))
  }

  test("SUM(long col) answers from manifest partial sums; doubles stay un-pushed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sum").toString + "/t"
    (0 until 1000).map(i => (1700000000000L + i, i.toLong * 7,
      i * 0.5, if (i % 3 == 0) None else Some(i.toLong)))
      .toDF("__time", "n", "d", "sparse").repartition(4)
      .write.format("druid").mode("overwrite").save(dir)
    val df = spark.read.format("druid").load(dir)
    val pushedAgg = df.agg(sum(col("n")), sum(col("sparse")), count(lit(1)))
    assert(pushedAgg.head().toSeq == Seq(
      (0L until 1000).map(_ * 7).sum,
      (0L until 1000).filter(_ % 3 != 0).sum,
      1000L))
    assert(!pushedAgg.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "sum(long) not completely pushed")
    // double sums are order-dependent: must NOT push, still correct
    val dsum = df.agg(sum(col("d")))
    assert(dsum.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(math.abs(dsum.head().getDouble(0) - (0 until 1000).map(_ * 0.5).sum) < 1e-6)
  }

  test("IS NOT NULL prunes all-null segments at planning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nnp").toString + "/t"
    (0 until 100).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "a").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    (100 until 200).map(i => (1700000000000L + i, i.toLong, i.toLong))
      .toDF("__time", "a", "b").coalesce(1)
      .write.format("druid").mode("append").save(dir)
    val df = spark.read.format("druid").load(dir).filter(col("b").isNotNull)
    // only the segment that HAS b plans a partition
    assert(df.rdd.getNumPartitions == 1,
      s"all-null segment not pruned: ${df.rdd.getNumPartitions}")
    assert(df.count() == 100)
  }

  test("IS NOT NULL on a column a segment predates skips the whole split") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nn2").toString + "/t"
    (0 until 100).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "a").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    (100 until 200).map(i => (1700000000000L + i, i.toLong, i.toLong))
      .toDF("__time", "a", "b").coalesce(1)
      .write.format("druid").mode("append").save(dir)
    val df = spark.read.format("druid").load(dir).filter(col("b").isNotNull)
    assert(df.count() == 100)
    assert(df.select(min(col("b"))).head().getLong(0) == 100L)
    // columns without a trailer (no nulls at all) stay unaffected
    assert(spark.read.format("druid").load(dir)
      .filter(col("a").isNotNull).count() == 200)
  }
}
