package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded source tables. Every value is a pure function of (seed, row
  * id), so one seed gives the same tables whatever the partitioning.
  * Doubles are multiples of a power of two, so every sum the workloads
  * check is exact in any summation order.
  */
object Data {
  val Day: Long = 86400L
  val LineitemStart: Long = 694224000L // 1992-01-01
  val LineitemDays: Int = 2526          // through 1998-11-30
  val EventsStart: Long = 1704067200L   // 2024-01-01
  val EventsDays: Int = 90

  val ReturnFlags: Seq[String] = Seq("A", "N", "R")
  val ShipModes: Seq[String] =
    Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val EventTypes: Seq[String] =
    Seq("click", "view", "purchase", "signup", "search", "share", "like", "logout")
  val Tags: Seq[String] = (0 until 12).map(i => f"tag-$i%02d")

  private def h(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))
  private def u(seed: Long, salt: Int, m: Long): Column = pmod(h(seed, salt), lit(m))
  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(seed, salt, values.size) + 1).cast("int"))

  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      timestamp_seconds(lit(LineitemStart) + u(seed, 1, LineitemDays * Day)).as("__time"),
      (col("id").divide(4).cast("long") + 1).as("l_orderkey"),
      (u(seed, 2, 20000) + 1).as("l_partkey"),
      (u(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      ((u(seed, 4, 400000) + 3600) * 0.25).as("l_extendedprice"),
      (u(seed, 5, 11) * 0.0078125).as("l_discount"),
      pick(seed, 6, ReturnFlags).as("l_returnflag"),
      pick(seed, 7, ShipModes).as("l_shipmode"))

  /** Events; `withProps` adds a two-level struct for the nested-V5
    * JSON encoding, `withTags` a multi-value string dimension.
    */
  def events(spark: SparkSession, seed: Long, rows: Long, parts: Int,
             withTags: Boolean, withProps: Boolean): DataFrame = {
    val userId = u(seed, 13, 5000) + 1
    val value = u(seed, 14, 100000) * 0.125
    val base = Seq(
      timestamp_seconds(lit(EventsStart) + u(seed, 11, EventsDays * Day)).as("__time"),
      pick(seed, 12, EventTypes).as("event_type"),
      userId.as("user_id"),
      concat(lit("user-"), lpad(userId.cast("string"), 6, "0")).as("user_name"),
      value.as("value"))
    val tags =
      if (withTags) Seq(slice(array_distinct(array(pick(seed, 15, Tags),
        pick(seed, 16, Tags), pick(seed, 17, Tags))), lit(1),
        (u(seed, 18, 3) + 1).cast("int")).as("tags"))
      else Nil
    val props =
      if (withProps) Seq(struct(u(seed, 19, 100).as("k"),
        struct(userId.as("uid"), value.as("v")).as("m")).as("props"))
      else Nil
    spark.range(0, rows, 1, parts).select(base ++ tags ++ props: _*)
  }

  /** Raw bytes of a row as a user hands it over: 8 per numeric or
    * timestamp value plus the UTF-8 length of each string.
    */
  def rawBytes(df: DataFrame): Long = {
    val parts = df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) coalesce(octet_length(col(f.name)), lit(0)).cast("long")
      else lit(8L)
    }
    df.select(parts.reduce(_ + _).as("b")).agg(sum(col("b"))).head().getLong(0)
  }

  // ---- documents: near-duplicate corpus built in the client -----------

  final case class Doc(id: Long, source: String, text: String)

  /** `n` documents over a seeded vocabulary; a share of them are edited
    * copies of an earlier document, so the dedup jobs find real pairs.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.Random(seed * 7919L + 17)
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "qu", "re", "do", "fi", "gu", "ha")
    val vocab = Array.fill(3000) {
      (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.length))).mkString
    }
    val sources = Array("web", "books", "news", "forum", "code")
    val docs = new Array[Doc](n)
    for (i <- 0 until n) {
      val text =
        if (i > 10 && rnd.nextInt(100) < 30) {
          val words = docs(i - 1 - rnd.nextInt(math.min(i - 1, 200))).text.split(' ')
          words.map(w => if (rnd.nextInt(100) < 6) vocab(rnd.nextInt(vocab.length)) else w)
            .mkString(" ")
        } else
          Array.fill(40 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      docs(i) = Doc(i.toLong + 1, sources(rnd.nextInt(sources.length)), text)
    }
    docs.toIndexedSeq
  }

  val docSchema: StructType = StructType(Seq(
    StructField("__time", TimestampType), StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))

  def docsFrame(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame = {
    val rows = docs.map(d => Row(new java.sql.Timestamp(d.id * 1000L), d.id, d.source, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), docSchema)
  }
}
