package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the 100 TB story lives in the plans, not
  * just the results. These tests pin the plan shape each headline query
  * relies on — parquet filter/column pushdown, broadcast dims, no
  * cartesian products on the scale paths, whole-stage codegen coverage —
  * so a regression that keeps results correct but wrecks the plan fails
  * CI instead of only showing up at cluster scale.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = {
    df.collect() // run THIS plan so AQE finalizes it (count() would plan anew)
    df.queryExecution.executedPlan.toString
  }

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("parquet scans push filters and prune columns (q2)") {
    val p = plan(run("q2_filter_agg"))
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(!p.contains("PushedFilters: []"),
      s"filter did not reach the parquet scan:\n$p")
    // the lineitem scan must not read all 16 columns for a 4-column agg
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(_.count(_ == ',') < 8),
      s"scan reads too many columns:\n$readSchemas")
  }

  test("small dimension tables broadcast (q5)") {
    val p = plan(run("q5_broadcast_dims"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dim join fell back to sort-merge at tiny scale:\n$p")
  }

  test("top-k avoids a global sort (q3)") {
    val p = plan(run("q3_join_topk"))
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+orderBy did not plan as top-k:\n$p")
  }

  test("exact dedup shuffles hashes, not document text (d1)") {
    val p = plan(run("d1_dedup_exact"))
    assert(p.contains("xxhash64"), s"dedup key is not hashed:\n$p")
    // no exchange may carry the text column — the shuffle key is the
    // 16-byte (hash, length) pair, never the corpus
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty, s"expected a shuffle in d1:\n$p")
    assert(!exchanges.exists(_.contains("text")),
      s"an exchange carries document text:\n${exchanges.mkString("\n")}")
  }

  test("scale paths have no cartesian products (d2, d9, e2, e3, j2)") {
    for (q <- Seq("d2_dedup_minhash_lsh", "d9_embed_neardup",
        "e2_knn_lsh", "e3_knn_ivf", "j2_range_join")) {
      val p = plan(run(q))
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n$p")
    }
  }

  test("whole query surface plans no unsanctioned cartesian product") {
    // e1 is the declared brute-force baseline — the only query allowed
    // a (broadcast) cross product of data-sized sides. Everything else
    // must keep cartesian-free plans as the surface grows: this sweep
    // is the regression net for every future query.
    val sanctioned = Set("e1_knn_brute")
    val failures = Seq.newBuilder[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !sanctioned(name)) {
      try {
        val df = fn(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct"))
          failures += s"$name plans CartesianProduct"
      } catch {
        case e: Throwable => failures += s"$name failed to run: $e"
      }
    }
    assert(failures.result().isEmpty, failures.result().mkString("\n"))
  }

  /** AQE prints the initial plan after the final one — count nodes in
    * the final plan only.
    */
  private def finalPlan(p: String): String = p.split("== Initial Plan ==").head

  test("native sketch aggs run one scan, one aggregation pass (dr45)") {
    val p = finalPlan(plan(run("dr45_native_sketch_aggs")))
    // five sketch aggregates + count in a single ObjectHashAggregate
    // pair over ONE scan — no Expand (multi-pass distinct), no join
    assert(!p.contains("Expand"),
      s"sketch aggregation must not plan a multi-pass Expand:\n$p")
    assert("BatchScan".r.findAllIn(p).size == 1,
      s"dr45 must read the segment table exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("segmentMetadata answers from one scan (dr46)") {
    val p = finalPlan(plan(run("dr46_native_segment_metadata")))
    // every per-column aggregate (min/max/cardinality/count) lands in a
    // single aggregation over a single scan; the per-column rows come
    // from an explode of the one aggregate row, not per-column jobs
    assert("BatchScan".r.findAllIn(p).size == 1,
      s"segmentMetadata must read the table exactly once:\n$p")
  }

  test("e1 brute force is the only sanctioned cross join") {
    // e1 is the correctness baseline: the cross join is the POINT, but
    // it must broadcast (queries are few) rather than shuffle both sides
    val p = plan(run("e1_knn_brute"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
  }

  test("druid scans stay columnar with pruned output (dr3)") {
    val p = plan(run("dr3_lineitem_agg"))
    assert(p.contains("Batched: true") || p.contains("ColumnarToRow"),
      s"druid scan is not vectorized:\n$p")
  }

  test("whole-stage codegen covers the relational hot paths (q1)") {
    val p = plan(run("q1_agg"))
    // codegen spans print as "*(n) Operator" in the compact tree
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen spans:\n$p")
  }

  test("as-of join plans one shuffle+sort, not a range join (j1)") {
    val p = plan(run("j1_asof_join"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"as-of join fell back to a quadratic plan:\n$p")
  }

  test("timeseries zero-fill broadcasts the bucket spine (q24)") {
    // the spine is range/granularity rows (tiny at any data scale) —
    // the fill join must broadcast, never shuffle the aggregate
    val p = plan(run("q24_timeseries_fill"))
    assert(p.contains("BroadcastHashJoin"), s"fill join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fill join shuffles:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set (d10)") {
    // the eval-suite gram set is tiny at any corpus scale: the train
    // side must broadcast-join it, and no exchange may carry document
    // text — only doc-level counters reach the one aggregation shuffle
    val p = plan(run("d10_decontaminate"))
    assert(p.contains("BroadcastHashJoin"), s"benchmark grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"gram join shuffles both sides:\n$p")
    val exchanges = p.split("== Initial Plan ==")(0).linesIterator
      .filter(_.contains("Exchange")).toList
    assert(!exchanges.exists(_.contains("text")),
      s"an exchange carries document text:\n${exchanges.mkString("\n")}")
  }

  test("gopher signals are one shuffle-free projection (d11)") {
    val p = plan(run("d11_gopher_repetition")).split("== Initial Plan ==")(0)
    // per-row quality scoring must stream through the scan: no hash
    // exchange at all (the final orderBy's range exchange is allowed)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")),
      s"d11 shuffles:\n$p")
  }

  test("zone-pruned scans plan only surviving segments (dr11, dr12)") {
    val p11 = plan(run("dr11_zone_pruned_scan"))
    assert(p11.contains("NumRange(l_orderkey,"),
      s"numeric zone filter missing from scan description:\n$p11")
    val p12 = plan(run("dr12_dim_pruned_scan"))
    assert(p12.contains("StrValues(c_name,"),
      s"dim filter missing from scan description:\n$p12")
  }

  test("chunk dedup shuffles chunk hashes, not chunk text (d14)") {
    val p = plan(run("d14_chunk_dedup")).split("== Initial Plan ==")(0)
    assert(p.contains("xxhash64"), s"chunk key is not hashed:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty, s"expected shuffles in d14:\n$p")
    assert(!exchanges.exists(e => e.contains("chunk") || e.contains("text")),
      s"an exchange carries chunk/document text:\n${exchanges.mkString("\n")}")
  }

  test("tf-idf broadcasts the vocabulary-sized df table (d15)") {
    val p = plan(run("d15_tfidf_keywords"))
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocabulary join shuffles the term counts:\n$p")
    assert(!p.contains("CartesianProduct"), s"N join is a cartesian:\n$p")
  }

  test("bucketed fact-fact join is exchange-free on the join key (q30)") {
    val p = plan(run("q30_bucketed_join")).split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
    val keyExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("orderkey")).toList
    assert(keyExchanges.isEmpty,
      s"bucketed join still shuffles on the join key:\n${keyExchanges.mkString("\n")}")
  }

  test("sessionization reuses one user_id shuffle end-to-end (q27)") {
    // lag window, running session-id sum, and per-session count all
    // partition by user_id: exactly one data-sized hash exchange, plus
    // the tiny final-histogram and sort exchanges
    // only the AQE final plan — the dump repeats exchanges under
    // "== Initial Plan =="
    val p = plan(run("q27_sessionize")).split("== Initial Plan ==")(0)
    val dataExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .filter(_.contains("user_id")).toList
    assert(dataExchanges.size == 1,
      s"expected one user_id exchange, got ${dataExchanges.size}:\n$p")
  }

  test("DSIR scoring broadcasts the ratio table, top-k avoids a sort (d26)") {
    val p = plan(run("d26_dsir_resample"))
    // the 256-row log-ratio table joins map-side; the raw-pool gram
    // stream must never shuffle for it
    assert(p.contains("BroadcastHashJoin"), s"lr join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 did not plan as distributed top-k:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian in d26:\n$p")
    // no exchange may carry document text — only ids/buckets/weights
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(!exchanges.exists(_.contains("text")),
      s"an exchange carries document text:\n${exchanges.mkString("\n")}")
  }
}
