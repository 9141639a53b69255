package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** Druid SQL JSON function family (json_value / json_query / json_keys
  * / json_paths / parse_json / try_parse_json) over the JSON-text
  * surface, plus json_value's bitmap pushdown on nested columns.
  */
class JsonFnSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    DruidSqlCompat.register(s)
    s
  }

  private val doc =
    """{"a": 1, "b": {"c": "x", "d": [10, "y", null]}, "e": 2.5, "s": "{\"q\":1}"}"""

  private def one(sql: String): Any = {
    // the doc rides a view, not a SQL literal — literal escaping would
    // corrupt the embedded \" sequences
    import spark.implicits._
    Seq(doc).toDF("doc").createOrReplaceTempView("jdoc")
    val r = spark.sql(sql).collect().head
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("json_value: scalar text; containers and missing answer NULL") {
    assert(one("SELECT json_value(doc, '$.a') FROM jdoc") == "1")
    assert(one("SELECT json_value(doc, '$.e') FROM jdoc") == "2.5")
    assert(one("SELECT json_value(doc, '$.b.c') FROM jdoc") == "x")
    assert(one("SELECT json_value(doc, '$.b.d[0]') FROM jdoc") == "10")
    assert(one("SELECT json_value(doc, '$.b.d[1]') FROM jdoc") == "y")
    assert(one("SELECT json_value(doc, '$.b.d[2]') FROM jdoc") == null) // JSON null
    assert(one("SELECT json_value(doc, '$.b') FROM jdoc") == null)      // object
    assert(one("SELECT json_value(doc, '$.b.d') FROM jdoc") == null)    // array
    assert(one("SELECT json_value(doc, '$.nope') FROM jdoc") == null)
    // a STRING whose content looks like JSON is still a scalar
    assert(one("SELECT json_value(doc, '$.s') FROM jdoc") == """{"q":1}""")
    // RETURNING spelled as an outer cast
    assert(one("SELECT CAST(json_value(doc, '$.a') AS BIGINT) FROM jdoc") == 1L)
  }

  test("json_query: JSON serialization of any node (strings quoted)") {
    assert(one("SELECT json_query(doc, '$.b.c') FROM jdoc") == "\"x\"")
    assert(one("SELECT json_query(doc, '$.b.d') FROM jdoc") == """[10,"y",null]""")
    assert(one("SELECT json_query(doc, '$.b') FROM jdoc") == """{"c":"x","d":[10,"y",null]}""")
    assert(one("SELECT json_query(doc, '$.nope') FROM jdoc") == null)
  }

  test("json_keys and json_paths") {
    assert(one("SELECT json_keys(doc, '$.b') FROM jdoc")
      .asInstanceOf[scala.collection.Seq[_]].toSeq == Seq("c", "d"))
    assert(one("SELECT json_keys(doc, '$.a') FROM jdoc") == null)
    assert(one("SELECT json_paths(doc) FROM jdoc").asInstanceOf[scala.collection.Seq[_]].toSeq ==
      Seq("$.a", "$.b.c", "$.b.d[0]", "$.b.d[1]", "$.b.d[2]", "$.e", "$.s"))
  }

  test("parse_json normalizes; try_parse_json nulls invalid; parse_json throws") {
    assert(one("""SELECT parse_json(' { "a" : 1 } ')""") == """{"a":1}""")
    assert(one("""SELECT try_parse_json('{nope')""") == null)
    val e = intercept[Exception] { one("""SELECT parse_json('{nope')""") }
    assert(e.getMessage.contains("invalid JSON") ||
      String.valueOf(e.getCause).contains("invalid JSON"))
  }

  test("json_value equality on a nested column gets bitmap pushdown") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonfn")
      .toString + "/t"
    (0 until 600).map(i =>
        (1700000000000L + i, s"""{"tag": "t${i % 3}", "k": ${i % 5}}"""))
      .toDF("__time", "props").coalesce(1)
      .write.format("druid").option("complexTypes", "props:json")
      .option("jsonEncoding", "nested").mode("overwrite").save(dir)
    spark.read.format("druid").load(dir).createOrReplaceTempView("jfn_t")
    val df = spark.sql(
      """SELECT count(*) AS n FROM jfn_t
         WHERE json_value(props, '$.tag') = 't1'""")
    val p = df.queryExecution.executedPlan.toString
    assert(graft.sources.ScanPreds.has(p, "NestedEq", "NestedEq(props,$.tag,List(t1))"),
      s"json_value equality not pushed:\n$p")
    assert(df.collect().head.getLong(0) == 200L)
  }
}
