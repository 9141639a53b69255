package graft.sources

import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.StringColumn

/** LIKE-'p%' pushdown: row selection from a contiguous UTF-8 dictionary
  * id range's bitmap union, and whole-segment skipping from the string
  * zone envelopes. Rows stay residual-verified by Spark, so every
  * assertion here is about pruning, with counts proving correctness.
  */
class PrefixPushdownSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private val groups = Seq("aa", "ab", "ba", "bb")
  private def nameOf(i: Int): String =
    if (i % 997 == 0) null else groups(i / 1000) + f"${i % 1000}%03d"

  /** 4 dim-clustered segments, one per two-letter prefix group (range
    * boundaries are sample-approximate — tests allow one straddle).
    */
  private lazy val dir: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-prefix").toString + "/t"
    (0 until 4000).map(i => (1700000000000L + i, nameOf(i), i.toLong))
      .toDF("__time", "name", "n")
      .repartitionByRange(4, col("name"))
      .write.format("druid").mode("overwrite").save(out)
    out
  }

  test("dictIdRangeForPrefix finds the contiguous matching range") {
    val vals = Seq(null, "aa", "ab1", "ab2", "abc", "ac", "b")
    val bytes = StringColumn.write(vals, withBitmaps = true)
    val col = new StringColumn(ByteBuffer.wrap(bytes), 0, bytes.length)
    // dict order: null, aa, ab1, ab2, abc, ac, b
    assert(col.dictIdRangeForPrefix("ab") == ((2, 5)))
    assert(col.dictIdRangeForPrefix("a") == ((1, 6)))
    assert(col.dictIdRangeForPrefix("zz") == ((7, 7)))
    assert(col.dictIdRangeForPrefix("ab1") == ((2, 3)))
  }

  test("startsWith selects exact rows and reaches the scan description") {
    val df = spark.read.format("druid").load(dir)
      .filter(col("name").startsWith("ab"))
    val expected = (0 until 4000).count(i =>
      nameOf(i) != null && nameOf(i).startsWith("ab"))
    assert(df.count() == expected)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("StrPrefix(name,"),
      s"prefix filter missing from scan description:\n$p")
  }

  test("conjunctive prefixes intersect") {
    val df = spark.read.format("druid").load(dir)
      .filter(col("name").startsWith("a") && col("name").startsWith("ab"))
    val expected = (0 until 4000).count(i =>
      nameOf(i) != null && nameOf(i).startsWith("ab"))
    assert(df.count() == expected)
  }

  test("contains and endsWith row-skip via a dictionary scan") {
    val base = spark.read.format("druid").load(dir)
    val expectedC = (0 until 4000).count(i =>
      nameOf(i) != null && nameOf(i).contains("b12"))
    assert(base.filter(col("name").contains("b12")).count() == expectedC)
    val expectedE = (0 until 4000).count(i =>
      nameOf(i) != null && nameOf(i).endsWith("7"))
    assert(base.filter(col("name").endsWith("7")).count() == expectedE)
    val df = base.filter(col("name").contains("b12"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("StrMatch(name,"),
      s"pattern filter missing from scan description:\n$p")
  }

  test("OR trees row-skip via bitmap algebra (exact selection)") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThan => FGt, Or => FOr, StringStartsWith => FSw}
    val out = Files.createTempDirectory("graft-orbm").toString + "/t"
    val rows = (0 until 300).map { i =>
      (1700000000000L + i, Seq("alpha", "beta", "gamma")(i % 3),
        s"tag${i % 10}", i.toLong)
    }
    rows.toDF("__time", "kind", "tag", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(out).head
    val seg = graft.format.DruidSegment.open(segDir)

    val schema = rows.toDF("__time", "kind", "tag", "n").schema
    def sel(f: org.apache.spark.sql.sources.Filter): Seq[Int] = {
      val part = graft.sources.druid.DruidInputPartition(segDir, 0, rows.length,
        graft.sources.druid.ScanPred.of(f, schema).toSeq)
      Option(graft.sources.druid.RowSelectionProbe.build(seg, part))
        .map(_.toSeq).getOrElse(Seq.tabulate(rows.length)(identity))
    }

    val expect1 = rows.indices.filter(i =>
      rows(i)._2 == "alpha" || rows(i)._3.startsWith("tag1"))
    assert(sel(FOr(FEq("kind", "alpha"), FSw("tag", "tag1"))) == expect1)

    // AND with a non-bitmap leaf degrades to the bitmap side (superset)
    val expect2 = rows.indices.filter(i =>
      rows(i)._2 == "beta" || rows(i)._2 == "gamma")
    assert(sel(FOr(FAnd(FEq("kind", "beta"), FGt("n", 250L)),
      FEq("kind", "gamma"))) == expect2)

    // a fully non-bitmap disjunct -> no restriction (all rows)
    assert(sel(FOr(FGt("n", 250L), FEq("kind", "alpha"))) ==
      rows.indices.toSeq)
  }

  test("pattern filters stay correct without bitmap indexes (residual)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-nobm").toString + "/t"
    (0 until 400).map(i => (1700000000000L + i, nameOf(i * 10), i.toLong))
      .toDF("__time", "name", "n")
      .write.format("druid").option("bitmapIndexes", "false")
      .mode("overwrite").save(out)
    val base = spark.read.format("druid").load(out)
    val names = (0 until 400).map(i => nameOf(i * 10))
    assert(base.filter(col("name").startsWith("ab")).count() ==
      names.count(v => v != null && v.startsWith("ab")))
    assert(base.filter(col("name").contains("b12")).count() ==
      names.count(v => v != null && v.contains("b12")))
  }

  test("comparator bounds select exact rows dictionary-side") {
    import spark.implicits._
    import graft.sources.druid.{DimBound, DruidInputPartition, RowSelectionProbe}
    val out = Files.createTempDirectory("graft-bound").toString + "/t"
    // ver values v1.0 .. v1.19: under VERSION ordering v1.10 ≥ v1.7
    // (numeric segments) where lexicographic order would reject it
    val rows = (0 until 400).map { i =>
      (1700000000000L + i, s"v1.${i % 20}", s"u${i % 150}", i.toLong)
    }
    rows.toDF("__time", "ver", "user", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(out).head
    val seg = graft.format.DruidSegment.open(segDir)

    def sel(b: DimBound): Seq[Int] = {
      val part = DruidInputPartition(segDir, 0, rows.length, Seq(b))
      Option(RowSelectionProbe.build(seg, part))
        .map(_.toSeq).getOrElse(Seq.tabulate(rows.length)(identity))
    }

    // version: lower "v1.7" admits exactly i%20 >= 7 (v1.10 included)
    val expectV = rows.indices.filter(i => i % 20 >= 7)
    assert(sel(DimBound("ver", "version", Some("v1.7"), lowerStrict = false,
      None, upperStrict = false)) == expectV)
    // version strict upper: i%20 < 7
    val expectVU = rows.indices.filter(i => i % 20 < 7)
    assert(sel(DimBound("ver", "version", None, lowerStrict = false,
      Some("v1.7"), upperStrict = true)) == expectVU)
    // alphanumeric on u<k>: "u100" admits u100..u149 AND u2-digit? no —
    // digit runs compare numerically, so exactly k >= 100
    val expectA = rows.indices.filter(i => i % 150 >= 100)
    assert(sel(DimBound("user", "alphanumeric", Some("u100"),
      lowerStrict = false, None, upperStrict = false)) == expectA)
    // strlen: length-first ordering; "u99" (len 3) under strict upper
    // keeps len-2 values and len-3 values below u99
    val expectS = rows.indices.filter { i =>
      val v = s"u${i % 150}"
      v.length < 3 || (v.length == 3 && v < "u99")
    }
    assert(sel(DimBound("user", "strlen", None, lowerStrict = false,
      Some("u99"), upperStrict = true)) == expectS)
    // lexicographic range
    val expectL = rows.indices.filter { i =>
      val v = s"v1.${i % 20}"; v >= "v1.12" && v <= "v1.3"
    }
    assert(sel(DimBound("ver", "lexicographic", Some("v1.12"),
      lowerStrict = false, Some("v1.3"), upperStrict = false)) == expectL)
  }

  test("plain Spark SQL string ranges ride the bound pushdown") {
    // ordinary DataFrame/SQL comparisons — no native query involved —
    // must reach the scan as lexicographic bounds: exact row counts,
    // bounds in the plan, envelope segment pruning
    val base = spark.read.format("druid").load(dir)
    val names = (0 until 4000).map(nameOf)
    val df = base.filter(col("name") >= "ab" && col("name") < "ba")
    assert(df.count() ==
      names.count(v => v != null && v >= "ab" && v < "ba"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("DimBound(name,"),
      s"string range missing from scan description:\n$p")
    // envelope pruning: a range above every envelope plans zero splits
    val none = base.filter(col("name") > "zz")
    assert(none.rdd.getNumPartitions == 0,
      s"above-envelope range must plan zero: ${none.rdd.getNumPartitions}")
    assert(none.count() == 0)
    // range covering one prefix group: at most 2 segments (straddle)
    val mid = base.filter(col("name") >= "ab" && col("name") <= "ab999")
    assert(mid.rdd.getNumPartitions <= 2,
      s"range pruning failed: ${mid.rdd.getNumPartitions} partitions")
    assert(mid.count() == names.count(v =>
      v != null && v >= "ab" && v <= "ab999"))
  }

  test("native version bound on a plain dim reaches the scan (end to end)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-boundnq").toString + "/t"
    val rows = (0 until 500).map(i => (1700000000000L + i, s"v1.${i % 25}", i.toLong))
    rows.toDF("__time", "ver", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    val df = graft.query.NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t", "granularity": "all",
      "filter": {"type": "bound", "dimension": "ver",
                 "lower": "v1.7", "ordering": "version"},
      "aggregations": [{"type": "count", "name": "cnt"}]
    }""", _ => spark.read.format("druid").load(out))
    val got = df.collect()
    assert(got.map(_.getAs[Long]("cnt")).toSeq ==
      Seq(rows.count(r => r._2.stripPrefix("v1.").toInt >= 7).toLong))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("DimBound(ver,"),
      s"comparator bound missing from scan description:\n$p")
    // the residual predicate must ALSO be on the plan (final word)
    assert(p.toLowerCase.contains("versioncmp"),
      s"residual version_cmp filter missing from plan:\n$p")
  }

  test("prefix envelope pruning skips disjoint segments") {
    val df = spark.read.format("druid").load(dir)
      .filter(col("name").startsWith("ab"))
    assert(df.rdd.getNumPartitions <= 2, // one straddle allowed
      s"prefix pruning failed: ${df.rdd.getNumPartitions} partitions")
    val none = spark.read.format("druid").load(dir)
      .filter(col("name").startsWith("zz"))
    assert(none.rdd.getNumPartitions == 0,
      s"above-envelope prefix must plan zero: ${none.rdd.getNumPartitions}")
    assert(none.count() == 0)
    val below = spark.read.format("druid").load(dir)
      .filter(col("name").startsWith("A")) // below every envelope
    assert(below.rdd.getNumPartitions == 0,
      s"below-envelope prefix must plan zero: ${below.rdd.getNumPartitions}")
    assert(below.count() == 0)
  }
}
