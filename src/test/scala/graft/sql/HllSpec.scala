package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class HllSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("estimate accuracy within 3% at 100k distinct") {
    val s = Hll.empty
    (0 until 100000).foreach(i => Hll.add(s, i * 2654435761L))
    val est = Hll.estimate(s)
    assert(math.abs(est - 100000) < 3000, s"estimate $est")
  }

  test("merge of halves equals whole (register-exact)") {
    val whole = Hll.empty
    val a = Hll.empty
    val b = Hll.empty
    (0 until 50000).foreach { i =>
      Hll.add(whole, i)
      if (i % 2 == 0) Hll.add(a, i) else Hll.add(b, i)
    }
    assert(Hll.merge(a, b).toSeq == whole.toSeq)
  }

  test("sketches flow through segment COMPLEX columns and merge in SQL") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString + "/t"

    // per-group sketches built in Spark, landed as a COMPLEX column
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(HllFunctions.hllBuild(col("l_partkey")).as("sketch"),
           countDistinct(col("l_partkey")).as("exact"))
      .select(lit(new java.sql.Timestamp(0)).as("__time"),
              col("l_returnflag"), col("sketch"), col("exact"))
    sketches.write.format("druid").mode("overwrite").save(dir)

    val back = spark.read.format("druid").load(dir)
    assert(back.schema("sketch").dataType == org.apache.spark.sql.types.BinaryType)

    // per-group estimates vs exact
    back.select(col("l_returnflag"), col("exact"),
        HllFunctions.hllEstimate(col("sketch")).as("est"))
      .collect().foreach { r =>
        val exact = r.getLong(1).toDouble
        val est = r.getLong(2).toDouble
        assert(math.abs(est - exact) / exact < 0.05, s"$r")
      }

    // merged estimate across groups ~ global distinct
    val merged = back.agg(
      HllFunctions.hllEstimate(HllFunctions.hllMerge(col("sketch"))).as("est"))
      .head.getLong(0)
    val globalExact = li.select(countDistinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(merged - globalExact).toDouble / globalExact < 0.05,
      s"merged $merged vs exact $globalExact")
  }
}
