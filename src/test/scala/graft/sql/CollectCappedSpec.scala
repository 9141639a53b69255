package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.TextOps

/** Pins `collect_capped(x, cap)` to the composable form it replaces —
  * `CASE WHEN count(*) <= cap THEN sort_array(collect_list(x)) END` —
  * and the reworked capped [[TextOps.lshCandidates]] to the old
  * count + anti-join + self-join pair set. The d2/d13/m5/m6/m7
  * candidate pairs are exactly this aggregate's output expanded, so
  * set-equality here is the equivalence argument for the r15 rework.
  */
class CollectCappedSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  test("collect_capped equals guarded sort_array(collect_list)") {
    val sp = spark
    GraftExtensions.install(sp)
    import sp.implicits._
    // groups: size 1, size = cap, size = cap + 1 (dropped), duplicates
    // of the same value within a group, negative ids
    val rows = Seq(
      (1L, 10L), (1L, 3L), (1L, 7L),             // size 3
      (2L, 5L),                                  // size 1
      (3L, 1L), (3L, 2L), (3L, 3L), (3L, 4L),    // size 4 > cap=3 -> NULL
      (4L, -8L), (4L, -8L), (4L, 0L)             // dup values kept, sorted
    ).toDF("g", "x")
    val got = rows.groupBy($"g")
      .agg(expr("collect_capped(x, 3)").as("c"))
      .orderBy($"g").collect()
    val want = rows.groupBy($"g")
      .agg(when(count(lit(1)) <= 3,
        sort_array(collect_list($"x"))).as("c"))
      .orderBy($"g").collect()
    assert(got.toSeq.map(_.toString) == want.toSeq.map(_.toString))
    // explicit spot checks: order, null-on-over-cap
    assert(got(0).getSeq[Long](1) == Seq(3L, 7L, 10L))
    assert(got(2).isNullAt(1))
    assert(got(3).getSeq[Long](1) == Seq(-8L, -8L, 0L))
  }

  test("capped lshCandidates equals count-prune + self-join pair set") {
    val sp = spark
    import sp.implicits._
    // bucket sizes 1..6 incl. one hot bucket (> cap) and docs shared
    // across buckets (the distinct's job)
    val bands = Seq(
      (0, 100L, Seq(1L)),
      (0, 200L, Seq(1L, 2L)),
      (1, 200L, Seq(2L, 3L, 4L)),
      (1, 300L, Seq(2L, 3L)),          // repeats the (2,3) pair
      (2, 400L, Seq(5L, 6L, 7L, 8L, 9L, 10L)) // 6 > cap=4 -> dropped
    ).flatMap { case (b, s, ds) => ds.map(d => (d, b, s)) }
      .toDF("doc_id", "band", "sig")
    val cap = 4
    val got = TextOps.lshCandidates(bands, Some(cap))
      .orderBy($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference: the pre-r15 shape
    val hot = bands.groupBy($"band", $"sig")
      .agg(count(lit(1)).as("bn")).filter($"bn" > cap)
      .select("band", "sig")
    val pruned = bands.join(hot, Seq("band", "sig"), "left_anti")
    val want = pruned.select($"doc_id".as("d1"), $"band", $"sig")
      .join(pruned.select($"doc_id".as("d2"), $"band", $"sig"),
        Seq("band", "sig"))
      .filter($"d1" < $"d2").select("d1", "d2").distinct()
      .orderBy($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.toSeq == Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }
}
