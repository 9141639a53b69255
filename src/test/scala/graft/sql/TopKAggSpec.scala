package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `topk_struct(s, k)`: the k-bounded heap aggregate must select and
  * order EXACTLY like the `row_number` window form it replaces in the
  * ANN paths — same rows, same rank order — while planning as
  * partial+final aggregation.
  */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def data = {
    import spark.implicits._
    // deliberate score collisions (score = id % 17) so the id
    // tie-break is load-bearing; 8 partitions so partial buffers
    // serialize across the shuffle
    (0L until 1000L).map(i => (i % 10, (i % 17).toDouble, i))
      .toDF("g", "score", "id").repartition(8)
  }

  test("heap aggregate ≡ row_number window (selection and order)") {
    GraftExtensions.install(spark)
    val viaAgg = data.groupBy(col("g"))
      .agg(expr("topk_struct(struct(score, -id AS ni, id), 7)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("g"), (col("p") + 1).as("rnk"),
        col("t.score").as("score"), col("t.id").as("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val viaWindow = data.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 7)
      .select("g", "rnk", "score", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(viaAgg == viaWindow)
    assert(viaWindow.size == 70)
  }

  test("k larger than the group returns the whole group, ordered") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val small = Seq((1L, 3.0, 10L), (1L, 1.0, 11L), (1L, 3.0, 9L))
      .toDF("g", "score", "id").repartition(4)
    val rows = small.groupBy(col("g"))
      .agg(expr("topk_struct(struct(score, -id AS ni, id), 100)").as("top"))
      .select(posexplode(col("top")).as(Seq("p", "t")))
      .select(col("t.score"), col("t.id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(rows == Seq((3.0, 9L), (3.0, 10L), (1.0, 11L)))
  }

  test("k=1 is exactly max(struct) — the d31 canonical-keep special case") {
    GraftExtensions.install(spark)
    val viaTop = data.groupBy(col("g"))
      .agg(expr("topk_struct(struct(score, -id AS ni, id), 1)").as("top"))
      .select(col("g"), col("top")(0).getField("score").as("s"),
        col("top")(0).getField("id").as("id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val viaMax = data.groupBy(col("g"))
      .agg(max(struct(col("score"), (-col("id")).as("ni"), col("id"))).as("m"))
      .select(col("g"), col("m.score").as("s"), col("m.id").as("id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaTop == viaMax)
  }

  test("NaN scores invert under the negation trick — smallest-k callers prefilter") {
    // topk_struct keeps the LARGEST structs; "smallest adc" encodes as
    // struct(-adc, ...). -NaN is still NaN, and NaN compares greatest,
    // so an unfiltered NaN candidate would be selected FIRST where the
    // ASC window form ranks it LAST. VectorOps.minAdcTopK therefore
    // filters !isnan(adc) before the aggregate; this spec pins the
    // hazard (so nobody "simplifies" the filter away) and the fixed
    // contract (filtered heap ≡ ASC window on the non-NaN rows).
    GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq((1L, 2.0, 10L), (1L, Double.NaN, 11L), (1L, 1.0, 12L),
        (1L, 3.0, 13L))
      .toDF("g", "adc", "id").repartition(3)
    def heap(d: org.apache.spark.sql.DataFrame) = d.groupBy(col("g"))
      .agg(expr("topk_struct(struct(-adc AS na, -id AS ni, adc, id), 2)")
        .as("top"))
      .select(posexplode(col("top")).as(Seq("p", "t")))
      .select(col("t.adc"), col("t.id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // unfiltered: NaN wins the heap — the documented hazard
    assert(heap(df).exists(_._1.isNaN))
    // prefiltered (the minAdcTopK contract): smallest-adc top-2, no NaN
    assert(heap(df.filter(!isnan(col("adc")))) ==
      Seq((1.0, 12L), (2.0, 10L)))
  }

  test("plans as ObjectHashAggregate with a partial stage, not a Window") {
    GraftExtensions.install(spark)
    val plan = data.groupBy(col("g"))
      .agg(expr("topk_struct(struct(score, -id AS ni), 5)").as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_topk_struct"),
      "no map-side partial — every candidate row would shuffle")
    assert(!plan.contains("Window"))
  }

  test("rejects non-struct and non-literal k") {
    GraftExtensions.install(spark)
    val err = intercept[Exception] {
      data.groupBy(col("g")).agg(expr("topk_struct(score, 5)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("struct"))
  }
}
