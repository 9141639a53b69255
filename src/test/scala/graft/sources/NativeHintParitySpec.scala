package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MvBitmapRewrite
import graft.sql.{Alphanum, VersionOrder}

/** Every bitmap row-selection hint a native filter can earn, derived
  * by MvBitmapRewrite from the predicate NativeQuery.compileFilter
  * emits. One row per shape: the clause the executed scan must carry
  * (or that none is carried), and the per-row truth its count and sum
  * must match. Each positive shape is checked twice: in the end-to-end
  * plan, and from the rule alone over an already pushed-down scan with
  * no hints (DruidScan.withPredicates).
  */
class NativeHintParitySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private val N = 2000
  // plain dims: ver (version-ish, null every 13th row), user
  // (alphanumeric, some digit runs zero-padded); MV dim tags (null
  // every 11th row); nested props (null every 10th row)
  private def verOf(i: Int): String = if (i % 13 == 0) null else s"v1.${i % 25}"
  private def userOf(i: Int): String =
    if (i % 4 == 1) f"u0${i % 150}" else s"u${i % 150}"
  private def tagsOf(i: Int): Seq[String] =
    if (i % 11 == 0) null else Seq(s"a${i % 5}", s"x${i % 17}", s"1.${i % 13}")
  private def tagOf(i: Int): Option[String] =
    if (i % 10 == 0) None else Some(s"t${i % 3}")
  private def kOf(i: Int): Option[Int] = if (i % 10 == 0) None else Some(i % 7)

  private lazy val base: DataFrame = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-hintparity").toString + "/t"
    (0 until N).map { i =>
      (1700000000000L + i, verOf(i), userOf(i), tagsOf(i),
        tagOf(i).map(t => s"""{"tag": "$t", "k": ${kOf(i).get}}""").orNull,
        i.toLong)
    }.toDF("__time", "ver", "user", "tags", "props", "n").coalesce(1)
      .write.format("druid").option("complexTypes", "props:json")
      .option("jsonEncoding", "nested").mode("overwrite").save(out)
    spark.read.format("druid").load(out)
  }

  private def strlenCmp(a: String, b: String): Int = {
    val c = Integer.compare(a.length, b.length)
    if (c != 0) c else a.compareTo(b)
  }
  private def alnumCmp(a: String, b: String): Int =
    Alphanum.keyOf(a).compareTo(Alphanum.keyOf(b))
  private def inRange(cmp: (String, String) => Int, lo: String, hi: String,
                      hiStrict: Boolean)(v: String): Boolean =
    v != null && cmp(v, lo) >= 0 &&
      (if (hiStrict) cmp(v, hi) < 0 else cmp(v, hi) <= 0)
  private def anyTag(p: String => Boolean)(i: Int): Boolean =
    tagsOf(i) != null && tagsOf(i).exists(p)

  private def bound(dim: String, ordering: String, lower: Option[String],
                    upper: Option[String], upperStrict: Boolean = false,
                    extra: String = ""): String =
    (Seq(s""""type": "bound", "dimension": "$dim"""",
      s""""ordering": "$ordering"""") ++
      lower.map(l => s""""lower": "$l"""") ++
      upper.map(u => s""""upper": "$u", "upperStrict": $upperStrict""") ++
      Seq(extra).filter(_.nonEmpty)).mkString("{", ", ", "}")
  private val nestedVc =
    """{"type": "nested-field", "columnName": "props",
        "outputName": "vtag", "path": "$.tag"}"""

  // (name, filter, virtual columns, the scan's predicates of one hint
  // kind (None = no hint at all), per-row truth)
  private val cases: Seq[(String, String, String, Option[(String, Seq[String])],
      Int => Boolean)] = Seq(
    ("MV selector",
      """{"type": "selector", "dimension": "tags", "value": "a2"}""", "",
      Some(("MvContains", Seq("MvContains(tags,List(a2))"))), anyTag(_ == "a2")),
    ("MV in",
      """{"type": "in", "dimension": "tags", "values": ["x3", "a1"]}""", "",
      Some(("MvContains", Seq("MvContains(tags,List(a1, x3))"))),
      anyTag(Set("a1", "x3"))),
    ("MV bound, lexicographic",
      bound("tags", "lexicographic", Some("a3"), Some("x1"), upperStrict = true), "",
      Some(("DimBound", Seq("DimBound(tags,lexicographic,Some(a3),false,Some(x1),true)"))),
      anyTag(inRange(_ compareTo _, "a3", "x1", hiStrict = true))),
    ("MV bound, strlen",
      bound("tags", "strlen", Some("x5"), Some("x10")), "",
      Some(("DimBound", Seq("DimBound(tags,strlen,Some(x5),false,Some(x10),false)"))),
      anyTag(inRange(strlenCmp, "x5", "x10", hiStrict = false))),
    ("MV bound, alphanumeric",
      bound("tags", "alphanumeric", Some("x9"), Some("x12")), "",
      Some(("DimBound", Seq("DimBound(tags,alphanumeric,Some(x9),false,Some(x12),false)"))),
      anyTag(inRange(alnumCmp, "x9", "x12", hiStrict = false))),
    ("MV bound, version",
      bound("tags", "version", Some("1.9"), Some("1.11")), "",
      Some(("DimBound", Seq("DimBound(tags,version,Some(1.9),false,Some(1.11),false)"))),
      anyTag(inRange(VersionOrder.compareStrings, "1.9", "1.11", hiStrict = false))),
    // two exists conjuncts may be met by two different values: each
    // keeps its own bound, never one merged [a3, x1) range
    ("MV and of a lower-only and an upper-only bound",
      s"""{"type": "and", "fields": [
           ${bound("tags", "lexicographic", Some("a3"), None)},
           ${bound("tags", "lexicographic", None, Some("x1"), upperStrict = true)}]}""", "",
      Some(("DimBound", Seq("DimBound(tags,lexicographic,Some(a3),false,None,false)",
        "DimBound(tags,lexicographic,None,false,Some(x1),true)"))),
      i => anyTag(_ >= "a3")(i) && anyTag(_ < "x1")(i)),
    // upper-only: a null value must not satisfy it
    ("plain bound, strlen",
      bound("ver", "strlen", None, Some("v1.5")), "",
      Some(("DimBound", Seq("DimBound(ver,strlen,None,false,Some(v1.5),false)"))),
      i => verOf(i) != null && strlenCmp(verOf(i), "v1.5") <= 0),
    // the compiled bound carries only the key: the hint decodes it, and
    // the zero-padded "u0120" comes back as the equal-keyed "u120"
    ("plain bound, alphanumeric",
      bound("user", "alphanumeric", Some("u100"), Some("u0120"), upperStrict = true), "",
      Some(("DimBound", Seq("DimBound(user,alphanumeric,Some(u100),false,Some(u120),true)"))),
      i => inRange(alnumCmp, "u100", "u120", hiStrict = true)(userOf(i))),
    ("plain bound, version",
      bound("ver", "version", Some("v1.7"), Some("v1.12")), "",
      Some(("DimBound", Seq("DimBound(ver,version,Some(v1.7),false,Some(v1.12),false)"))),
      i => inRange(VersionOrder.compareStrings, "v1.7", "v1.12", hiStrict = false)(verOf(i))),
    ("nested STRING vc selector",
      """{"type": "selector", "dimension": "vtag", "value": "t1"}""", nestedVc,
      Some(("NestedEq", Seq("NestedEq(props,$.tag,List(t1))"))), i => tagOf(i).contains("t1")),
    ("nested STRING vc in",
      """{"type": "in", "dimension": "vtag", "values": ["t2", "t0"]}""", nestedVc,
      Some(("NestedEq", Seq("NestedEq(props,$.tag,List(t0, t2))"))),
      i => tagOf(i).exists(Set("t0", "t2"))),
    // a LONG vc's cast matches texts the rendered-text probe would miss
    ("typed nested vc",
      """{"type": "selector", "dimension": "vk", "value": "5"}""",
      """{"type": "nested-field", "columnName": "props", "outputName": "vk",
          "path": "$.k", "expectedType": "LONG"}""",
      None, i => kOf(i).contains(5)),
    ("extractionFn",
      bound("ver", "version", Some("v1.7"), None,
        extra = """"extractionFn": {"type": "upper"}"""), "",
      None, i => verOf(i) != null &&
        VersionOrder.compareStrings(verOf(i).toUpperCase, "v1.7") >= 0),
    ("vc shadowing a dimension",
      bound("ver", "version", Some("v1.7"), None),
      """{"type": "expression", "name": "ver", "expression": "upper(ver)"}""",
      None, i => verOf(i) != null &&
        VersionOrder.compareStrings(verOf(i).toUpperCase, "v1.7") >= 0),
    ("OR",
      s"""{"type": "or", "fields": [
           {"type": "selector", "dimension": "tags", "value": "a2"},
           ${bound("ver", "version", Some("v1.20"), None)}]}""", "",
      None, i => anyTag(_ == "a2")(i) ||
        (verOf(i) != null && VersionOrder.compareStrings(verOf(i), "v1.20") >= 0)),
    // SQL three-valued logic: NOT(false AND null) matches, NOT(null) not
    ("NOT",
      s"""{"type": "not", "field": {"type": "and", "fields": [
           {"type": "selector", "dimension": "tags", "value": "a2"},
           ${bound("ver", "version", Some("v1.7"), None)}]}}""", "",
      None, { i =>
        val a = Option(tagsOf(i)).map(_.contains("a2"))
        val b = Option(verOf(i)).map(VersionOrder.compareStrings(_, "v1.7") >= 0)
        a.contains(false) || b.contains(false)
      }))

  private def native(filter: String, vcs: String,
                     from: => DataFrame = base): DataFrame =
    graft.query.NativeQuery.run(
      s"""{"queryType": "timeseries", "dataSource": "t",
           "granularity": "all",
           ${if (vcs.isEmpty) "" else s""""virtualColumns": [$vcs],"""}
           "filter": $filter,
           "aggregations": [
             {"type": "count", "name": "rows"},
             {"type": "longSum", "name": "total_n", "fieldName": "n"}]
         }""", _ => from)

  /** The rule alone over a hint-free pushed-down scan of `base`, with
    * the optimized filter condition of `df`.
    */
  private def postPushdownScan(df: DataFrame): String = {
    val cond = df.queryExecution.optimizedPlan.collectFirst {
      case Filter(c, _: DataSourceV2ScanRelation) => c
    }.get
    val bare = base.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s
    }.get
    MvBitmapRewrite(Filter(cond, bare)).collectFirst {
      case s: DataSourceV2ScanRelation => s.scan.description()
    }.get
  }

  private val noHints = Seq("DimBound", "MvContains", "NestedEq")

  for ((name, filter, vcs, clause, truth) <- cases)
    test(s"native $name: ${clause.fold("no hint")(_ => "hint")} and per-row truth") {
      val df = native(filter, vcs)
      val plan = df.queryExecution.executedPlan.toString
      clause match {
        case Some((kind, c)) =>
          assert(ScanPreds.has(plan, kind, c: _*), s"$c missing from the scan:\n$plan")
          val post = postPushdownScan(df)
          assert(ScanPreds.has(post, kind, c: _*), s"post-pushdown rule missed $c:\n$post")
        case None =>
          noHints.foreach(h => assert(ScanPreds.has(plan, h), s"unexpected hint:\n$plan"))
      }
      val want = (0 until N).filter(truth)
      val row = df.collect().head
      assert(row.getAs[Long]("rows") == want.size)
      assert(row.getAs[Long]("total_n") == want.map(_.toLong).sum)
    }

  test("strlen bound with no druid scan under it: a null value never matches") {
    // the residual alone decides here; a bare struct key would rank a
    // null below "v1.5" and admit it
    val local = spark.createDataFrame(base.collectAsList(), base.schema)
    val df = native(bound("ver", "strlen", None, Some("v1.5")), "", local)
    assert(df.collect().head.getAs[Long]("rows") == (0 until N).count(i =>
      verOf(i) != null && strlenCmp(verOf(i), "v1.5") <= 0))
  }

  test("strlen struct key with no IS NOT NULL beside it: no hint, nulls still match") {
    // the struct key alone ranks a null below "v1.5", so the predicate
    // admits null values the bitmap would drop
    import org.apache.spark.sql.functions._
    def key(c: org.apache.spark.sql.Column) = struct(length(c), c)
    val plain = base.filter(key(col("ver")) <= key(lit("v1.5")))
    val mv = base.filter(exists(col("tags"), x => key(x) <= key(lit("1.5"))))
    for ((df, truth) <- Seq[(DataFrame, Int => Boolean)](
        plain -> (i => verOf(i) == null || strlenCmp(verOf(i), "v1.5") <= 0),
        mv -> (i => tagsOf(i) != null && tagsOf(i).exists(strlenCmp(_, "1.5") <= 0)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(ScanPreds.has(plan, "DimBound"), s"unexpected hint:\n$plan")
      assert(ScanPreds.has(postPushdownScan(df), "DimBound"))
      assert(df.count() == (0 until N).count(truth))
    }
  }

  test("a newSession() reaching the table through a global temp view gets hints") {
    base.createOrReplaceGlobalTempView("hint_parity_t")
    val child = spark.newSession()
    val df = child.sql("SELECT count(*) FROM global_temp.hint_parity_t " +
      "WHERE array_contains(tags, 'a2')")
    val plan = df.queryExecution.executedPlan.toString
    assert(ScanPreds.has(plan, "MvContains", "MvContains(tags,List(a2))"), plan)
    assert(df.collect().head.getLong(0) == (0 until N).count(anyTag(_ == "a2")))
  }

  test("Alphanum.valueOf inverts keyOf up to leading zeros; rejects non-keys") {
    val values = Seq("", "0", "000", "a", "u7", "u007", "u120", "x9y10z",
      "1.10-rc2", "abc123def0045", "ü12é")
    values.foreach { v =>
      val k = Alphanum.keyOf(v)
      val back = Alphanum.valueOf(k)
      assert(back.isDefined, s"no value for the key of '$v'")
      assert(Alphanum.keyOf(back.get) == k, s"'$v' -> '${back.get}'")
    }
    assert(Alphanum.valueOf(Alphanum.keyOf("u007")).contains("u7"))
    // truncated run, non-digits in a run, two adjacent runs, bare digit
    Seq("0", "0#1", "0!x", "0!10!2", "7").foreach { k =>
      assert(Alphanum.valueOf(k).isEmpty, s"'$k' is no key")
    }
  }
}
