package graft.sql

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}
import graft.plans.MvBitmapRewrite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-injected functions survive newSession (no register calls)") {
    // newSession() builds a FRESH SessionState: temp-registered
    // functions vanish, extension-injected ones are rebuilt — so this
    // passes only through the spark.sql.extensions path.
    val fresh = SparkTestSession.spark.newSession()
    val r = fresh.sql(
      """SELECT size(grams5('hello world')),
        |       size(grams5_distinct('hello world')),
        |       intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L)),
        |       size(minhash_bands('hello world', 16, 4)),
        |       simhash5('hello world', 16) IS NOT NULL,
        |       fingerprint5('hello world') IS NOT NULL,
        |       dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |       hplane_proj(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 3)
        |          IS NOT NULL""".stripMargin).head
    assert(r.getInt(0) > 0 && r.getInt(1) > 0)
    assert(r.getLong(2) == 2L)
    assert(r.getInt(3) == 4)
    assert(r.getBoolean(4) && r.getBoolean(5))
    assert(r.getDouble(6) == 11.0)
    assert(r.getBoolean(7))
    val bloom = fresh.sql(
      """WITH m AS (SELECT explode(sequence(0L, 99L)) AS k)
        |SELECT count(*) FROM m
        |WHERE NOT bloom_might(
        |  (SELECT bloom_agg(xxhash64(k), 128L, 2048L) FROM m), xxhash64(k))
        |""".stripMargin).head.getLong(0)
    assert(bloom == 0L, s"$bloom false negatives through the extension path")
  }

  test("injected and temp-registered builders agree") {
    val spark = SparkTestSession.spark
    GraftExtensions.install(spark) // registration on the shared session
    val viaTemp = spark.sql("SELECT grams5('abcdefgh')").head.getSeq[Long](0)
    val viaExt = spark.newSession().sql("SELECT grams5('abcdefgh')")
      .head.getSeq[Long](0)
    assert(viaTemp == viaExt)
  }

  test("every table name resolves through the extension alone") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    // the names that once reached a session only through per-object
    // registration calls
    val formerlyRegistered = Seq("dot_i8", "topk_struct", "collect_capped",
      "version_cmp", "alphanum_key", "hll_build", "hll_merge_agg",
      "hll_estimate", "ds_theta_from_vals", "ds_theta_union_agg",
      "ds_theta_intersect", "ds_theta_anotb", "ds_theta_estimate",
      "ds_quantiles_from_vals", "ds_quantiles_union_agg", "ds_quantiles_n",
      "ds_quantiles_quantile")
    assert(formerlyRegistered.filterNot(names.contains).isEmpty)
    // no query has run on `fresh`, so nothing but the extension has
    // touched its registry
    val fresh = SparkTestSession.spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"unresolved in a fresh session: ${missing.mkString(", ")}")
    val r = fresh.sql(
      """SELECT ds_theta_estimate(ds_theta_from_vals(array(1L, 2L, 3L))),
        |       ds_quantiles_n(ds_quantiles_from_vals(array(1.0D, 2.0D))),
        |       dot_i8(array(CAST(2 AS TINYINT)), array(CAST(3 AS TINYINT))),
        |       version_cmp('1.10', '1.9') > 0""".stripMargin).head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 6L)
    assert(r.getBoolean(3))
    val agg = fresh.sql(
      """SELECT hll_estimate(hll_build(id)), ds_theta_estimate(ds_theta_union_agg(t))
        |FROM (SELECT id, ds_theta_from_vals(array(id)) AS t FROM range(50))
        |""".stripMargin).head
    assert(agg.getLong(0) == 50L && agg.getLong(1) == 50L)
  }

  test("UDF rows build the nodes a session UDF registration binds") {
    // the same UDFs registered the Spark way in one session, and
    // installed from the table in another: equal analyzed plans, and
    // equal node settings (name, encoders, nullability)
    val viaRegister = SparkTestSession.spark.newSession()
    viaRegister.udf.register("ds_theta_from_vals",
      F.udf((vs: Seq[Long]) => DsTheta.fromValues(vs)))
    viaRegister.udf.register("ds_theta_estimate",
      F.udf((b: Array[Byte]) => if (b == null) 0L else DsTheta.estimate(b)))
    viaRegister.udf.register("hll_build", F.udaf(new HllBuildAgg))
    viaRegister.udf.register("ds_quantiles_union_agg",
      F.udaf(new DsQuantilesUnionAgg(2048)))
    val viaTable = SparkTestSession.spark.newSession()
    GraftExtensions.install(viaTable)
    val q =
      """SELECT ds_theta_estimate(ds_theta_from_vals(array(id))), hll_build(id),
        |       ds_quantiles_union_agg(CAST(NULL AS BINARY))
        |FROM range(3) GROUP BY id""".stripMargin
    def nodes(s: SparkSession) = {
      val df = s.sql(q)
      val plan = df.queryExecution.analyzed
      val udfs = plan.expressions.flatMap(_.collect { case u: ScalaUDF =>
        (u.udfName, u.nullable, u.inputEncoders.map(_.isDefined),
          u.outputEncoder.isDefined)
      })
      val aggs = plan.expressions.flatMap(_.collect { case a: ScalaAggregator[_, _, _] =>
        (a.aggregatorName, a.nullable, a.agg.getClass)
      })
      (Bench.canonicalPlan(df), udfs, aggs)
    }
    val (planR, udfsR, aggsR) = nodes(viaRegister)
    val (planT, udfsT, aggsT) = nodes(viaTable)
    assert(udfsR.map(_._1) == Seq(Some("ds_theta_estimate"), Some("ds_theta_from_vals")))
    assert(aggsR.map(_._1) == Seq(Some("hll_build"), Some("ds_quantiles_union_agg")))
    assert(udfsT == udfsR)
    assert(aggsT == aggsR)
    assert(planT == planR)
  }

  test("install twice arms the bitmap-hint rule once") {
    val s = SparkTestSession.spark.newSession()
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    s.sql("SELECT 1").collect() // the extension's check rule installs too
    assert(s.experimental.extraOptimizations.count(_ eq MvBitmapRewrite) == 1)
  }
}
