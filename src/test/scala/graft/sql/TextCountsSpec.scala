package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.TextOps

/** Pins the native `word_count` / `marker_count` to the
  * replace-arithmetic SQL forms they replace on the Spark side of the
  * curation gates (the oracles keep the arithmetic forms). The d5/d6/
  * d7/d12/d13/s10 outputs are sums/filters over these values, so
  * value-equality here is the whole equivalence argument — including
  * the non-overlapping replace() semantics on self-adjacent markers.
  */
class TextCountsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the the the",          // adjacent markers share the boundary space
    "a a a a",              // overlapping ' a ' candidates
    "athe thea the",        // marker must be space-delimited
    "the",                  // marker is the whole text (padding matches)
    "a",
    "",                     // empty text
    " ",                    // all-space
    "  double  spaces  the  ",
    "naïve the café a déjà ☃ the", // multi-byte chars around markers
    "word")

  test("word_count equals length-replace arithmetic") {
    GraftExtensions.install(spark)
    cases.foreach { t =>
      val lit = t.replace("'", "''")
      val r = spark.sql(
        s"""SELECT CAST(word_count('$lit') AS BIGINT),
           |  CAST(${TextOps.wordCountSql.replace("text", s"'$lit'")} AS BIGINT)
           |""".stripMargin).head
      assert(r.getLong(0) == r.getLong(1), s"text='$t'")
    }
  }

  test("marker_count equals padded-replace arithmetic for 'the' and 'a'") {
    GraftExtensions.install(spark)
    for (t <- cases; w <- Seq("the", "a")) {
      val lit = t.replace("'", "''")
      val r = spark.sql(
        s"""SELECT CAST(marker_count('$lit', '$w') AS BIGINT),
           |  CAST(${TextOps.markerCountSql(w).replace("text", s"'$lit'")} AS BIGINT)
           |""".stripMargin).head
      assert(r.getLong(0) == r.getLong(1), s"text='$t' w='$w'")
    }
  }

  test("marker_count rejects non-literal or multi-word markers") {
    GraftExtensions.install(spark)
    val e = intercept[Exception](
      spark.sql("SELECT marker_count('x', concat('t', 'he'))").head)
    assert(e.getMessage.contains("STRING literal") || e.getCause != null)
    val e2 = intercept[Exception](MarkerCount(null, "two words"))
    assert(e2.getMessage.contains("ASCII word"))
  }
}
