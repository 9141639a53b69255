package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins `grams5_hist(text, mod)` to the composable form it replaced in
  * d26: explode(grams5(text)) -> tg % mod -> count per bucket. The d26
  * DSIR weights are sums/products over these counts, so bucket-count
  * equality here is the whole equivalence argument.
  */
class Grams5HistSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  test("grams5_hist(text, 256) equals exploded grams5 % 256 counts") {
    GraftExtensions.install(spark)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaa", // heavy duplicate grams in one bucket
      "abcd",    // < 5 code points -> all zero
      "",        // empty -> all zero
      "naïve café — déjà vu ☃ snowman", // multi-byte code points
      "0123456789" * 40)
    texts.zipWithIndex.foreach { case (t, i) =>
      val lit = t.replace("'", "''")
      val hist = spark.sql(s"SELECT grams5_hist('$lit', 256)")
        .head.getSeq[Long](0)
      assert(hist.length == 256, s"case $i: length ${hist.length}")
      val exploded = spark.sql(
        s"""SELECT b, count(*) AS c FROM (
           |  SELECT tg % 256 AS b FROM (
           |    SELECT explode(grams5('$lit')) AS tg))
           |GROUP BY b""".stripMargin)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      (0 until 256).foreach { b =>
        assert(hist(b) == exploded.getOrElse(b, 0L),
          s"case $i bucket $b: hist=${hist(b)} explode=${exploded.getOrElse(b, 0L)}")
      }
      assert(hist.sum == exploded.values.sum, s"case $i total")
    }
  }

  test("grams5_hist rejects non-string input and non-literal mod") {
    GraftExtensions.install(spark)
    val e = intercept[Exception](spark.sql("SELECT grams5_hist(1, 256)").head)
    assert(e.getMessage.toLowerCase.contains("string") ||
      e.getMessage.contains("grams5_hist"))
    val e2 = intercept[Exception](
      spark.sql("SELECT grams5_hist('abcde', CAST(rand()*8 AS INT))").head)
    assert(e2.getMessage.contains("INT literal") ||
      e2.getCause != null)
  }
}
