package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextOps.{P, aConst, bConst}

/** Composed reference forms of the pipeline's native operators: the
  * DataFrame / higher-order-function shapes the native expressions
  * replaced. Only the equivalence specs call them.
  */
object PipelineReference {

  /** MinHash signatures: (doc_id, j, h) for j in [0, k). Computed as ONE
    * wide aggregate of k min columns (map-side combined, no k-fold row
    * blowup) and re-shaped with stack() after — the shuffle carries one
    * k-column row per document instead of k*grams rows.
    */
  def minhash(grams: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(j =>
      min(expr(s"(${aConst(j)} * tg + ${bConst(j)}) % $P")).as(s"h$j"))
    val wide = grams.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val stackArgs = (0 until k).map(j => s"$j, h$j").mkString(", ")
    wide.selectExpr("doc_id", s"stack($k, $stackArgs) AS (j, h)")
  }

  /** LSH band signatures: fold each band of `bandSize` minhashes into
    * one BIGINT (12-bit folds so 4 terms stay far under 2^63). Banding
    * turns near-dup search into an equi-join: docs sharing any
    * (band, sig) are candidates. `TextOps.bandSignaturesDirect` is the
    * native form.
    */
  def bandSignatures(mh: DataFrame, bandSize: Int = 4): DataFrame = {
    // 12-bit folds: bandSize <= 5 keeps sum(4095 * 4096^k) under 2^63
    require(bandSize >= 1 && bandSize <= 5, s"bandSize $bandSize not in [1,5]")
    val arms = (0 until bandSize)
      .map(k => s"WHEN $k THEN CAST(${(0 until k).foldLeft(1L)((a, _) => a * 4096L)} AS BIGINT)")
      .mkString(" ")
    mh.groupBy(col("doc_id"), expr(s"j div $bandSize").as("band"))
      .agg(sum(expr(s"(h % 4096) * (CASE j % $bandSize $arms END)")).as("sig"))
  }

  /** SimHash signatures (nBits <= 16): per bit j, sign-sum of the j-th
    * hash's parity over the doc's grams. `TextOps.simhashDirect` is the
    * native form.
    */
  def simhash(grams: DataFrame, nBits: Int = 16): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    val params = (0 until nBits).map(j => (j, aConst(j), bConst(j))).toDF("j", "a", "b")
    grams.crossJoin(broadcast(params))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(expr(s"CASE WHEN ((a * tg + b) % $P) % 2 = 1 THEN 1 ELSE -1 END")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END"))
        .as("simhash"))
  }

  /** `VectorOps.dotSql`'s ordered fold via higher-order functions. */
  def dotHofSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      s"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** `VectorOps.projectionSql` via higher-order functions. */
  def projectionHofSql(j: Int, dim: Int): String =
    s"aggregate(zip_with(embedding, sequence(0, ${dim - 1}), " +
      s"(x, i) -> CAST(x AS DOUBLE) * ${VectorOps.planeSignSql(j, "i")}), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Connected components by alternating large-star/small-star edge
    * contraction (Kiveris et al.) called directly, whatever the edge
    * count — `Components.connectedComponents` takes this path only
    * above its driver-side gate. Returns (doc_id, component = min
    * reachable node id), one row per distinct node of `edges`.
    */
  def connectedComponentsStar(edges: DataFrame, src: String = "d1",
                              dst: String = "d2",
                              maxIter: Int = 50): DataFrame =
    Components.starImpl(edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .localCheckpoint(), maxIter)
}
