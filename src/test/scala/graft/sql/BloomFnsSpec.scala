package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

class BloomFnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("bloom has no false negatives and rejects most non-members") {
    GraftExtensions.install(spark)
    import spark.implicits._
    (0L until 1000L).toDF("k").createOrReplaceTempView("graft_bloom_members")
    (5000L until 15000L).toDF("k").createOrReplaceTempView("graft_bloom_others")
    val misses = spark.sql(
      """SELECT count(*) AS n FROM graft_bloom_members
        |WHERE NOT bloom_might(
        |  (SELECT bloom_agg(xxhash64(k), 1024L, 16384L)
        |   FROM graft_bloom_members), xxhash64(k))""".stripMargin)
      .head.getLong(0)
    assert(misses == 0, s"$misses false negatives")
    val falsePos = spark.sql(
      """SELECT count(*) AS n FROM graft_bloom_others
        |WHERE bloom_might(
        |  (SELECT bloom_agg(xxhash64(k), 1024L, 16384L)
        |   FROM graft_bloom_members), xxhash64(k))""".stripMargin)
      .head.getLong(0)
    // 16384 bits / 1024 keys ≈ 16 bits/key → fp rate well under 5%
    assert(falsePos < 500, s"$falsePos of 10000 non-members passed")
  }

  test("d22 Bloom path returns exactly d10's exact-broadcast result") {
    val d10 = SparkEntry.queries("d10_decontaminate")(spark, sf)
      .collect().map(_.toSeq).toSet
    val d22 = SparkEntry.queries("d22_bloom_decontaminate")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(d10.nonEmpty, "empty decontamination result makes the test vacuous")
    assert(d22 == d10)
  }

  test("d21 admits iff best confirmed jaccard is under the threshold") {
    val rows = SparkEntry.queries("d21_incremental_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    // one row per batch doc with text long enough to shingle
    val nBatch = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 5).count()
    assert(rows.length == nBatch)
    rows.foreach { r =>
      val (bestJ, admitted) = (r.getAs[Double]("best_j"), r.getAs[Long]("admitted"))
      assert(admitted == (if (bestJ >= 0.5) 0L else 1L), r.toString)
    }
    // the LSH index must surface at least some candidates at this SF
    assert(rows.exists(_.getAs[Long]("n_cand") > 0))
  }
}
