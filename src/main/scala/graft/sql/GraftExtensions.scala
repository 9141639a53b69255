package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the whole native function
  * family at session-build time, so every session (and every
  * `newSession()`) has them without per-session `register` calls —
  * the idiomatic deployment is
  *
  * {{{
  * spark.sql.extensions=graft.sql.GraftExtensions
  * }}}
  *
  * The per-object `register(spark)` methods stay as the programmatic
  * alternative for sessions built without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, ""),
        build))
    }
    // bitmap row-selection hints for every extension-built session,
    // including a newSession() that reaches druid tables only through
    // global temp views: the rule runs after scan pushdown, which only
    // experimental.extraOptimizations reaches, so the session is armed
    // on its first analysis (programmatic sessions are armed on first
    // druid-table resolution, DruidDataSource.getTable)
    ext.injectCheckRule(s => _ => graft.plans.MvBitmapRewrite.arm(s))
  }
}

object GraftExtensions {
  /** (name, usage, builder) for every native SQL function. */
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
    ("hplane_proj", "hplane_proj(embedding, j) - hyperplane-j projection",
      HyperplaneProjection.build),
    ("bloom_agg",
      "bloom_agg(hash, estimatedNumItems, numBits) - aggregate xxhash64 values into a Bloom filter",
      BloomFns.buildAgg),
    ("bloom_might",
      "bloom_might(bloom, hash) - Bloom membership probe (no false negatives)",
      BloomFns.buildMight)) ++
    DruidSqlCompat.functions
}
