package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, functions => F}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.UdfBuilder

/** Session-extension entry point: injects every row of
  * [[GraftExtensions.functions]] at session-build time, so every
  * session (and every `newSession()`) has graft's SQL functions — the
  * idiomatic deployment is
  *
  * {{{
  * spark.sql.extensions=graft.sql.GraftExtensions
  * }}}
  *
  * A session built without the extension gets the same table from
  * [[GraftExtensions.install]], which every graft entry point calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, _, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftExtensions.infos(name), build))
    }
    // bitmap row-selection hints for every extension-built session,
    // including a newSession() that reaches druid tables only through
    // global temp views: the rule runs after scan pushdown, which only
    // experimental.extraOptimizations reaches, so the session is
    // installed on its first analysis
    ext.injectCheckRule(s => _ => GraftExtensions.install(s))
  }
}

object GraftExtensions {
  // the k every ds_quantiles_* caller builds its sketches with
  private val QuantilesK = 2048

  /** (name, usage, builder) for every graft SQL function — the one
    * table both the extension and [[install]] register.
    */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("grams5", "grams5(text) - distinct 5-gram codes as array<bigint>",
      Grams5.build),
    ("grams5_distinct", "grams5_distinct(text) - sorted distinct 5-gram codes",
      Grams5Distinct.build),
    ("grams5_hist", "grams5_hist(text, mod) - 5-gram counts bucketed by code % mod",
      Grams5Hist.build),
    ("word_count", "word_count(text) - single-space word count (spaces + 1)",
      TextCounts.buildWordCount),
    ("marker_count", "marker_count(text, w) - space-padded marker-word occurrences",
      TextCounts.buildMarkerCount),
    ("intersect_count", "intersect_count(a, b) - linear-merge |a ∩ b| of sorted arrays",
      IntersectCount.build),
    ("minhash_bands", "minhash_bands(text, k, bandSize) - LSH band signatures",
      MinHashBands.build),
    ("simhash5", "simhash5(text, nBits) - per-row SimHash over 5-grams",
      Simhash5.build),
    ("fingerprint5", "fingerprint5(text) - per-row document fingerprint",
      Fingerprint5.build),
    ("word_ngrams", "word_ngrams(text, n) - distinct space-joined word n-grams",
      WordNgrams.build),
    ("dot_f", "dot_f(a, b) - ordered-fold dot product of array<float>",
      DotFloat.build),
    ("dot_i8", "dot_i8(a, b) - exact integer dot product of array<tinyint>",
      DotInt8.build),
    ("hplane_proj", "hplane_proj(embedding, j) - hyperplane-j projection",
      HyperplaneProjection.build),
    ("topk_struct", "topk_struct(s, k) - the k largest structs, descending (bounded heap)",
      TopKStructAgg.build),
    ("collect_capped",
      "collect_capped(x, cap) - sorted group values, or null past cap rows (bounded state)",
      CollectCappedAgg.build),
    ("version_cmp", "version_cmp(d, 'v') - Druid version-order comparison of d with a literal",
      VersionCmp.build),
    ("alphanum_key", "alphanum_key(s) - order-preserving Druid alphanumeric key",
      AlphanumKey.build),
    ("bloom_agg",
      "bloom_agg(hash, estimatedNumItems, numBits) - aggregate xxhash64 values into a Bloom filter",
      BloomFns.buildAgg),
    ("bloom_might",
      "bloom_might(bloom, hash) - Bloom membership probe (no false negatives)",
      BloomFns.buildMight),
    udf("hll_build", "hll_build(v) - HLL sketch of bigint values",
      F.udaf(new HllBuildAgg)),
    udf("hll_merge_agg", "hll_merge_agg(sketch) - union of HLL sketches",
      F.udaf(new HllMergeAgg)),
    udf("hll_estimate", "hll_estimate(sketch) - HLL distinct-count estimate",
      F.udf((b: Array[Byte]) => if (b == null) 0L else Hll.estimate(b))),
    udf("ds_theta_from_vals", "ds_theta_from_vals(values) - theta sketch of array<bigint>",
      F.udf((vs: Seq[Long]) => DsTheta.fromValues(vs))),
    udf("ds_theta_union_agg", "ds_theta_union_agg(sketch) - union of theta sketches",
      F.udaf(new DsThetaUnionAgg)),
    udf("ds_theta_intersect", "ds_theta_intersect(a, b) - theta sketch intersection",
      F.udf((a: Array[Byte], b: Array[Byte]) => DsTheta.intersectBytes(a, b))),
    udf("ds_theta_anotb", "ds_theta_anotb(a, b) - theta sketch A-and-not-B",
      F.udf((a: Array[Byte], b: Array[Byte]) => DsTheta.aNotBBytes(a, b))),
    udf("ds_theta_estimate", "ds_theta_estimate(sketch) - theta distinct-count estimate",
      F.udf((b: Array[Byte]) => if (b == null) 0L else DsTheta.estimate(b))),
    udf("ds_quantiles_from_vals",
      "ds_quantiles_from_vals(values) - DoublesSketch (k=2048) of array<double>",
      F.udf((vs: Seq[Double]) => DsQuantiles.fromValues(vs, QuantilesK))),
    udf("ds_quantiles_union_agg",
      "ds_quantiles_union_agg(sketch) - union of DoublesSketches (k=2048)",
      F.udaf(new DsQuantilesUnionAgg(QuantilesK))),
    udf("ds_quantiles_n", "ds_quantiles_n(sketch) - stream length of a DoublesSketch",
      F.udf((b: Array[Byte]) => if (b == null) 0L else DsQuantiles.n(b))),
    udf("ds_quantiles_quantile",
      "ds_quantiles_quantile(sketch, q) - quantile estimate of a DoublesSketch",
      F.udf((b: Array[Byte], q: Double) => DsQuantiles.quantile(b, q)))) ++
    DruidSqlCompat.functions

  /** A row whose builder makes the node a session UDF registration of
    * `f` under `name` would bind (see UdfBuilder). `f` is built on the
    * first call: a typed UDF derives its encoders by reflection, which
    * building a session need not pay for.
    */
  private def udf(name: String, usage: String, f: => UserDefinedFunction)
      : (String, String, Seq[Expression] => Expression) = {
    lazy val build = UdfBuilder(name, f)
    (name, usage, children => build(children))
  }

  // one info object per name, shared by the extension and install, so
  // installing on an extension-built session rewrites each entry with
  // an identical one
  private val infos: Map[String, ExpressionInfo] = functions.map {
    case (name, usage, _) =>
      name -> new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")
  }.toMap

  /** Give `spark` every graft SQL function and arm graft's two rules
    * over druid scans, in this order: the bitmap-hint rule
    * (graft.plans.MvBitmapRewrite), then the literal binder
    * (graft.plans.BoundLiterals), so every session runs them alike.
    * The programmatic twin of the extension, for sessions built
    * without it. Once per session (later calls are one map hit), so
    * every graft entry point calls it rather than relying on an
    * earlier query having done so.
    */
  def install(spark: SparkSession): Unit = Registration.once(spark, "graft") {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      registry.registerFunction(FunctionIdentifier(name), infos(name), build)
    }
    Registration.optimizerRule(spark, graft.plans.MvBitmapRewrite)
    Registration.optimizerRule(spark, graft.plans.BoundLiterals)
  }
}
