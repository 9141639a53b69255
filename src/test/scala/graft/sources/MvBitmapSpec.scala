package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-value dimension bitmap pushdown: a value's bitmap marks rows
  * whose ARRAY contains it (Druid's MV selector execution), so
  * selector/in filters on MV dims row-skip through the same bitmap
  * machinery as single-value dims — previously `case _ => Nil` and a
  * full decode. Exact-selection probes, the zero-rows-decoded case,
  * trailer coexistence with row nulls, the no-bitmap degradation, and
  * the native-query pushdown end-to-end.
  */
class MvBitmapSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  // rows: tags(i) = ["a<i%5>", "b<i%3>"]; every 11th row is a null ROW
  private val N = 3000
  private def tagsOf(i: Int): Seq[String] =
    if (i % 11 == 0) null else Seq(s"a${i % 5}", s"b${i % 3}")

  private lazy val dir: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-mvbm").toString + "/t"
    (0 until N).map(i => (1700000000000L + i, tagsOf(i), i.toLong))
      .toDF("__time", "tags", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(out)
    out
  }

  private def probe(clauses: Seq[(String, Seq[String])]): Option[Seq[Int]] = {
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(dir).head
    val seg = graft.format.DruidSegment.open(segDir)
    val part = graft.sources.druid.DruidInputPartition(segDir, 0, N,
      clauses.map { case (c, vs) => graft.sources.druid.MvContains(c, vs) })
    Option(graft.sources.druid.RowSelectionProbe.build(seg, part)).map(_.toSeq)
  }

  test("contains clause selects exactly the rows whose array has the value") {
    val got = probe(Seq("tags" -> Seq("a2")))
    assert(got.isDefined, "no bitmap selection on an MV column")
    assert(got.get == (0 until N).filter(i =>
      tagsOf(i) != null && tagsOf(i).contains("a2")))
  }

  test("multi-value IN unions; AND across clauses intersects") {
    val got = probe(Seq("tags" -> Seq("a1", "a3"), "tags" -> Seq("b0")))
    assert(got.get == (0 until N).filter { i =>
      val t = tagsOf(i)
      t != null && (t.contains("a1") || t.contains("a3")) && t.contains("b0")
    })
  }

  test("a value absent from the dictionary decodes ZERO rows") {
    assert(probe(Seq("tags" -> Seq("zz"))).get.isEmpty)
  }

  test("an MV column written without bitmaps degrades to residual (no selection)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-mvnobm").toString + "/t"
    (0 until 500).map(i => (1700000000000L + i, tagsOf(i), i.toLong))
      .toDF("__time", "tags", "n").coalesce(1)
      .write.format("druid").option("bitmapIndexes", "false")
      .mode("overwrite").save(out)
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(out).head
    val seg = graft.format.DruidSegment.open(segDir)
    val part = graft.sources.druid.DruidInputPartition(
      segDir, 0, 500, Seq(graft.sources.druid.MvContains("tags", Seq("a2"))))
    assert(graft.sources.druid.RowSelectionProbe.build(seg, part) == null)
  }

  test("null-row trailer still reads with the bitmap section present") {
    // null ROWS must read back as null arrays, not as empty/garbage —
    // the trailer sits AFTER the marker-delimited bitmap section
    val back = spark.read.format("druid").load(dir)
      .select(col("n"), col("tags")).collect()
      .map(r => r.getLong(0).toInt -> (if (r.isNullAt(1)) null
        else r.getSeq[String](1))).toMap
    (0 until N).foreach { i =>
      val want = tagsOf(i)
      if (want == null) assert(back(i) == null, s"row $i should be null")
      else assert(back(i) == want, s"row $i: ${back(i)} vs $want")
    }
  }

  test("concise-encoded MV bitmaps select identically") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-mvconc").toString + "/t"
    (0 until 1000).map(i => (1700000000000L + i, tagsOf(i), i.toLong))
      .toDF("__time", "tags", "n").coalesce(1)
      .write.format("druid").option("bitmapEncoding", "concise")
      .mode("overwrite").save(out)
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(out).head
    val seg = graft.format.DruidSegment.open(segDir)
    val part = graft.sources.druid.DruidInputPartition(
      segDir, 0, 1000, Seq(graft.sources.druid.MvContains("tags", Seq("b1"))))
    val got = Option(graft.sources.druid.RowSelectionProbe.build(seg, part))
    assert(got.isDefined)
    assert(got.get.toSeq == (0 until 1000).filter(i =>
      tagsOf(i) != null && tagsOf(i).contains("b1")))
  }

  test("bound on an MV dim selects rows where ANY value is in range") {
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(dir).head
    val seg = graft.format.DruidSegment.open(segDir)
    // lexicographic ["a1", "a3"]: contiguous dictionary range
    val part = graft.sources.druid.DruidInputPartition(
      segDir, 0, N, Seq(graft.sources.druid.DimBound("tags",
        "lexicographic", Some("a1"), lowerStrict = false,
        Some("a3"), upperStrict = false)))
    val got = Option(graft.sources.druid.RowSelectionProbe.build(seg, part))
    assert(got.isDefined, "no bitmap selection for an MV bound")
    assert(got.get.toSeq == (0 until N).filter { i =>
      val t = tagsOf(i)
      t != null && t.exists(v => v >= "a1" && v <= "a3")
    })
    // strlen ordering rides the comparator path on the MV dictionary
    val part2 = graft.sources.druid.DruidInputPartition(
      segDir, 0, N, Seq(graft.sources.druid.DimBound("tags",
        "strlen", Some("b0"), lowerStrict = false, None,
        upperStrict = false)))
    val got2 = Option(graft.sources.druid.RowSelectionProbe.build(seg, part2))
    assert(got2.isDefined)
    assert(got2.get.toSeq == (0 until N).filter { i =>
      val t = tagsOf(i)
      // strlen order: (length, bytes); all tags are length 2
      t != null && t.exists(v => v >= "b0")
    })
  }

  test("native bound on an MV dim: exists semantics, bounds pushed to the scan") {
    val df = graft.query.NativeQuery.run(
      s"""{"queryType": "timeseries", "dataSource": "t",
           "granularity": "all",
           "filter": {"type": "bound", "dimension": "tags",
                      "lower": "b1", "upper": "b2",
                      "ordering": "lexicographic"},
           "aggregations": [{"type": "count", "name": "rows"}]
         }""", _ => spark.read.format("druid").load(dir))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("DimBound(tags,"),
      s"MV bound missing from the scan description:\n$p")
    val expected = (0 until N).count { i =>
      val t = tagsOf(i)
      t != null && t.exists(v => v >= "b1" && v <= "b2")
    }
    assert(df.collect().head.getAs[Long]("rows") == expected)
  }

  test("native selector on an MV dim pushes mvContains and matches per-row truth") {
    val df = graft.query.NativeQuery.run(
      s"""{"queryType": "timeseries", "dataSource": "t",
           "granularity": "all",
           "filter": {"type": "and", "fields": [
             {"type": "selector", "dimension": "tags", "value": "a2"},
             {"type": "in", "dimension": "tags", "values": ["b0", "b2"]}]},
           "aggregations": [
             {"type": "count", "name": "rows"},
             {"type": "longSum", "name": "total_n", "fieldName": "n"}]
         }""", _ => spark.read.format("druid").load(dir))
    val p = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(p, "MvContains",
      "MvContains(tags,List(a2))", "MvContains(tags,List(b0, b2))"),
      s"mvContains option missing from the scan:\n$p")
    val matching = (0 until N).filter { i =>
      val t = tagsOf(i)
      t != null && t.contains("a2") && (t.contains("b0") || t.contains("b2"))
    }
    val row = df.collect().head
    assert(row.getLong(row.fieldIndex("rows")) == matching.size)
    assert(row.getLong(row.fieldIndex("total_n")) == matching.map(_.toLong).sum)
  }

  test("plain DataFrame array_contains gets bitmap row selection (MvBitmapRewrite)") {
    val df = spark.read.format("druid").load(dir)
      .filter(array_contains(col("tags"), "a2"))
      .agg(count(lit(1)).as("rows"), sum(col("n")).as("total_n"))
    val p = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(p, "MvContains", "MvContains(tags,List(a2))"),
      s"plain-SQL MV filter missing bitmap selection:\n$p")
    // the predicate must STAY as the residual final word
    assert(p.contains("array_contains"),
      s"residual array_contains dropped from the plan:\n$p")
    val matching = (0 until N).filter(i =>
      tagsOf(i) != null && tagsOf(i).contains("a2"))
    val row = df.collect().head
    assert(row.getLong(0) == matching.size)
    assert(row.getLong(1) == matching.map(_.toLong).sum)
  }

  test("plain SQL arrays_overlap + array_contains AND-merge into one clause set") {
    spark.read.format("druid").load(dir).createOrReplaceTempView("mv_sql_t")
    val df = spark.sql(
      """SELECT count(*) AS rows FROM mv_sql_t
         WHERE array_contains(tags, 'a2')
           AND arrays_overlap(tags, array('b0', 'b2'))""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("MvContains(tags,List(a2))") &&
      p.contains("MvContains(tags,List(b0, b2))"),
      s"merged clause set missing from the scan:\n$p")
    val expected = (0 until N).count { i =>
      val t = tagsOf(i)
      t != null && t.contains("a2") && (t.contains("b0") || t.contains("b2"))
    }
    assert(df.collect().head.getLong(0) == expected)
  }

  test("plain SQL with a value no row contains decodes zero rows") {
    spark.read.format("druid").load(dir).createOrReplaceTempView("mv_sql_z")
    val df = spark.sql(
      "SELECT count(*) AS rows FROM mv_sql_z WHERE array_contains(tags, 'zz')")
    val p = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(p, "MvContains", "MvContains(tags,List(zz))"), p)
    assert(df.collect().head.getLong(0) == 0L)
  }

  test("OR-reachable and negated contains do NOT rewrite (correctness guard)") {
    val base = spark.read.format("druid").load(dir)
    // OR: selecting only a2's bitmap would DROP b1-only rows
    val dfOr = base.filter(array_contains(col("tags"), "a2") ||
      array_contains(col("tags"), "b1")).agg(count(lit(1)))
    assert(!dfOr.queryExecution.executedPlan.toString.contains("MvContains(tags,"),
      "OR-reachable contains must not become an AND row selection")
    // NOT: the bitmap marks rows TO KEEP, negation inverts it
    val dfNot = base.filter(!array_contains(col("tags"), "a2"))
      .agg(count(lit(1)).as("rows"))
    assert(!dfNot.queryExecution.executedPlan.toString.contains("MvContains(tags,"),
      "negated contains must not become a positive row selection")
    val expected = (0 until N).count { i =>
      val t = tagsOf(i); t != null && !t.contains("a2")
    }
    assert(dfNot.collect().head.getLong(0) == expected)
  }

  test("native selector with a value NO row contains returns zero over the bitmaps") {
    val df = graft.query.NativeQuery.run(
      """{"queryType": "timeseries", "dataSource": "t",
          "granularity": "all",
          "context": {"skipEmptyBuckets": true},
          "filter": {"type": "selector", "dimension": "tags", "value": "nope"},
          "aggregations": [{"type": "count", "name": "rows"}]
        }""", _ => spark.read.format("druid").load(dir))
    assert(df.collect().isEmpty || df.collect().head.getLong(0) == 0)
  }
}
