package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Nested-field equality pushdown: `get_json_object(col, '$.path') =
  * 'v'` over a NestedCommonFormat column rides the per-field value
  * bitmaps the nested writer emits — exact row-selection probes, the
  * cross-type rendering rule (long 5 matches "5"), the zero-rows
  * cases, plain-SQL plan assertions, and the no-rewrite guards.
  */
class NestedPushdownSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  // rows: k = i % 7 (long), tag = t<i%3> (string), sub.d = i%4 + 0.5;
  // every 10th row null; k == 3 also written as the STRING "3" (the
  // rendering-collision case)
  private val N = 2000
  private def jsonOf(i: Int): String =
    if (i % 10 == 0) null
    else {
      val k = if (i % 7 == 3) s""""3"""" else (i % 7).toString
      s"""{"k": $k, "tag": "t${i % 3}", "sub": {"d": ${i % 4}.5}}"""
    }

  private lazy val dir: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-nestedeq").toString + "/t"
    (0 until N).map(i => (1700000000000L + i, jsonOf(i)))
      .toDF("__time", "props").coalesce(1)
      .write.format("druid").option("complexTypes", "props:json")
      .option("jsonEncoding", "nested").mode("overwrite").save(out)
    out
  }

  private def probe(clauses: Seq[(String, String, Seq[String])])
      : Option[Seq[Int]] = {
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(dir).head
    val seg = graft.format.DruidSegment.open(segDir)
    val part = graft.sources.druid.DruidInputPartition(segDir, 0, N,
      clauses.map { case (c, path, vs) => graft.sources.druid.NestedEq(c, path, vs) })
    Option(graft.sources.druid.RowSelectionProbe.build(seg, part)).map(_.toSeq)
  }

  test("field equality selects exactly the matching rows (string field)") {
    val got = probe(Seq(("props", "$.tag", Seq("t1"))))
    assert(got.isDefined, "no bitmap selection on a nested column")
    assert(got.get == (0 until N).filter(i => i % 10 != 0 && i % 3 == 1))
  }

  test("long-rendered literal matches BOTH long 5 and would-be string '5'") {
    // k: long (i%7) except i%7==3 rows hold STRING "3"
    val got5 = probe(Seq(("props", "$.k", Seq("5"))))
    assert(got5.get == (0 until N).filter(i => i % 10 != 0 && i % 7 == 5))
    // "3" matches the STRING-typed rows (they render identically)
    val got3 = probe(Seq(("props", "$.k", Seq("3"))))
    assert(got3.get == (0 until N).filter(i => i % 10 != 0 && i % 7 == 3))
  }

  test("nested depth + double rendering; clauses AND-intersect") {
    val got = probe(Seq(
      ("props", "$.sub.d", Seq("1.5")),
      ("props", "$.tag", Seq("t0", "t2"))))
    assert(got.get == (0 until N).filter(i => i % 10 != 0 &&
      i % 4 == 1 && (i % 3 == 0 || i % 3 == 2)))
  }

  test("absent path and absent value both select ZERO rows") {
    assert(probe(Seq(("props", "$.nope", Seq("x")))).get.isEmpty)
    assert(probe(Seq(("props", "$.tag", Seq("zz")))).get.isEmpty)
  }

  test("interior object paths give NO selection (residual can match object text)") {
    // "$.sub" is a strict prefix of the "$.sub.d" field: the residual's
    // get_json_object returns the OBJECT text there — a bitmap claiming
    // zero rows would under-select, so the probe must decline
    assert(probe(Seq(("props", "$.sub", Seq("""{"d":1.5}""")))).isEmpty)
    // and the end-to-end answer is the residual's, bitmap-free
    val df = spark.read.format("druid").load(dir)
      .filter(get_json_object(col("props"), "$.sub") === """{"d":1.5}""")
      .agg(count(lit(1)).as("n"))
    val expected = (0 until N).count(i => i % 10 != 0 && i % 4 == 1)
    assert(df.collect().head.getLong(0) == expected)
  }

  test("plain SQL get_json_object equality re-plans with nestedEq") {
    spark.read.format("druid").load(dir).createOrReplaceTempView("ne_sql_t")
    val df = spark.sql(
      """SELECT count(*) AS n FROM ne_sql_t
         WHERE get_json_object(props, '$.tag') = 't2'
           AND get_json_object(props, '$.k') IN ('1', '4')""")
    val p = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(p, "NestedEq",
      "NestedEq(props,$.tag,List(t2))", "NestedEq(props,$.k,List(1, 4))"),
      s"nested clauses missing from the scan:\n$p")
    assert(p.contains("get_json_object"), "residual predicate dropped")
    val expected = (0 until N).count(i => i % 10 != 0 && i % 3 == 2 &&
      (i % 7 == 1 || i % 7 == 4))
    assert(df.collect().head.getLong(0) == expected)
  }

  test("OR / negation / wildcard paths / blob columns do not rewrite") {
    import spark.implicits._
    val base = spark.read.format("druid").load(dir)
    val dfOr = base.filter(get_json_object(col("props"), "$.tag") === "t1" ||
      get_json_object(col("props"), "$.tag") === "t2").agg(count(lit(1)))
    assert(!dfOr.queryExecution.executedPlan.toString.contains("NestedEq("))
    val dfNot = base.filter(!(get_json_object(col("props"), "$.tag") === "t1"))
      .agg(count(lit(1)))
    assert(!dfNot.queryExecution.executedPlan.toString.contains("NestedEq("))
    val dfWild = base.filter(get_json_object(col("props"), "$.sub[*]") === "x")
      .agg(count(lit(1)))
    assert(!dfWild.queryExecution.executedPlan.toString.contains("NestedEq("))
    // a bracketed EXACT path is pushable now (array-of-objects
    // shredding); a subscript on an OBJECT field safely selects zero
    // rows (get_json_object renders null there)
    val dfIdx = base.filter(get_json_object(col("props"), "$.sub[0]") === "x")
      .agg(count(lit(1)).as("n"))
    assert(ScanPreds.has(dfIdx.queryExecution.executedPlan.toString, "NestedEq",
      "NestedEq(props,$.sub[0],List(x))"))
    assert(dfIdx.collect().head.getLong(0) == 0L)
    // blob-encoded json column: no field bitmaps, no rewrite
    val blobDir = Files.createTempDirectory("graft-nedblob").toString + "/t"
    (0 until 100).map(i => (1700000000000L + i, s"""{"k": ${i % 5}}"""))
      .toDF("__time", "props").coalesce(1)
      .write.format("druid").option("complexTypes", "props:json")
      .mode("overwrite").save(blobDir)
    val dfBlob = spark.read.format("druid").load(blobDir)
      .filter(get_json_object(col("props"), "$.k") === "2")
      .agg(count(lit(1)).as("n"))
    assert(!dfBlob.queryExecution.executedPlan.toString.contains("NestedEq("))
    assert(dfBlob.collect().head.getLong(0) == 20L)
  }

  test("native selector on a nested-field virtual column pushes nestedEq") {
    val df = graft.query.NativeQuery.run(
      """{"queryType": "timeseries", "dataSource": "t",
          "granularity": "all",
          "virtualColumns": [{"type": "nested-field", "columnName": "props",
            "outputName": "vtag", "path": "$.tag"}],
          "filter": {"type": "in", "dimension": "vtag",
                     "values": ["t0", "t2"]},
          "aggregations": [{"type": "count", "name": "rows"}]
        }""", _ => spark.read.format("druid").load(dir))
    val p = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(p, "NestedEq", "NestedEq(props,$.tag,List(t0, t2))"),
      s"native nested-field selector not pushed:\n$p")
    val expected = (0 until N).count(i => i % 10 != 0 &&
      (i % 3 == 0 || i % 3 == 2))
    assert(df.collect().head.getAs[Long]("rows") == expected)
    // a TYPED (LONG) nested-field vc must NOT push: '5.0' as LONG
    // matches long 5 while the text probe would miss it
    val typed = graft.query.NativeQuery.run(
      """{"queryType": "timeseries", "dataSource": "t",
          "granularity": "all",
          "virtualColumns": [{"type": "nested-field", "columnName": "props",
            "outputName": "vk", "path": "$.k", "expectedType": "LONG"}],
          "filter": {"type": "selector", "dimension": "vk", "value": "5"},
          "aggregations": [{"type": "count", "name": "rows"}]
        }""", _ => spark.read.format("druid").load(dir))
    assert(!typed.queryExecution.executedPlan.toString.contains("NestedEq("),
      "typed nested-field vc must stay residual-only")
    assert(typed.collect().head.getAs[Long]("rows") ==
      (0 until N).count(i => i % 10 != 0 && i % 7 == 5))
  }

  test("null rows never enter a selection; residual semantics hold end-to-end") {
    val df = spark.read.format("druid").load(dir)
      .filter(get_json_object(col("props"), "$.tag") === "t0")
      .agg(count(lit(1)).as("n"))
    val expected = (0 until N).count(i => i % 10 != 0 && i % 3 == 0)
    assert(df.collect().head.getLong(0) == expected)
  }

  test("bracketed fields (array-of-objects shredding) probe exactly; interiors decline") {
    import spark.implicits._
    val M = 500
    val aDir = Files.createTempDirectory("graft-nedarr").toString + "/t"
    (0 until M).map(i => (1700000000000L + i,
        s"""{"a": [{"b": ${i % 5}}, {"b": ${i % 3}, "c": "s${i % 2}"}],
             "tags": ["p${i % 4}", "q${i % 6}"]}"""))
      .toDF("__time", "props").coalesce(1)
      .write.format("druid").option("complexTypes", "props:json")
      .option("jsonEncoding", "nested").mode("overwrite").save(aDir)
    def probeA(path: String, vs: Seq[String]): Option[Seq[Int]] = {
      val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(aDir).head
      val seg = graft.format.DruidSegment.open(segDir)
      val part = graft.sources.druid.DruidInputPartition(
        segDir, 0, M, Seq(graft.sources.druid.NestedEq("props", path, vs)))
      Option(graft.sources.druid.RowSelectionProbe.build(seg, part)).map(_.toSeq)
    }
    // exact bracketed field: the element-indexed bitmaps serve rows
    assert(probeA("$.a[0].b", Seq("2")).get ==
      (0 until M).filter(_ % 5 == 2))
    assert(probeA("$.a[1].c", Seq("s1")).get ==
      (0 until M).filter(_ % 2 == 1))
    // interior prefixes — both the array node and an element — must
    // DECLINE (their get_json_object text can equal a literal)
    assert(probeA("$.a", Seq("x")).isEmpty)
    assert(probeA("$.a[1]", Seq("""{"b":0,"c":"s0"}""")).isEmpty)
    // out-of-range element: neither a field nor a prefix -> zero rows
    assert(probeA("$.a[7].b", Seq("1")).get.isEmpty)
    // an index into a SCALAR-ARRAY field must DECLINE (no per-element
    // bitmaps; element texts can match) — never claim zero rows
    assert(probeA("$.tags[0]", Seq("p1")).isEmpty)
    // end-to-end residual correctness over the same shapes
    val df = spark.read.format("druid").load(aDir)
      .filter(get_json_object(col("props"), "$.a[1].c") === "s0")
      .agg(count(lit(1)).as("n"))
    assert(df.collect().head.getLong(0) == (0 until M).count(_ % 2 == 0))
  }
}
