package graft.sources

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.DruidSegment
import graft.sources.druid.{DruidInputPartition, RowSelectionProbe}

/** Every pushed predicate kind, in every placement, over every column
  * state: segment pruning and bitmap row selection pinned per case.
  *
  * Two day segments. The second one adds columns (k2, n2, tags2,
  * props2) the first predates, so those are all-null there. The same
  * rows are written twice: once with bitmap indexes, once without.
  * Each case runs one SQL filter and asserts three things:
  *  - the rows equal the per-row truth (the same SQL over a local copy);
  *  - the number of segments the scan plans;
  *  - the number of rows the bitmap row selection keeps, summed over
  *    the planned splits (a split with no selection counts all rows).
  *
  * Placements: the predicate alone, under an OR whose other branch
  * matches no row (`kind = 'zzz'`), and under an AND inside that OR.
  * Column states: present with bitmaps (bm), present without bitmaps
  * (nobm), absent from the older segment (absent).
  */
class PushdownMatrixSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private val PerSeg = 30
  private val day = Seq("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z")

  // row g of segment g / PerSeg, every 40 minutes from midnight
  private def row(g: Int): Row = {
    val seg = g / PerSeg
    val i = g % PerSeg
    val t = Timestamp.from(Instant.parse(day(seg)).plusSeconds(i * 2400L))
    val k = if (g % 7 == 3) null else s"${if (seg == 0) "a" else "m"}${g % 5}"
    val n: java.lang.Long =
      if (seg == 1 && g % 6 == 0) null else (if (seg == 0) g.toLong else 100L + i)
    val tags = if (g % 9 == 4) null else Seq(s"t${g % 4}", s"u${g % 3}")
    val props = if (g % 10 == 5) null else s"""{"tag": "p${g % 3}"}"""
    val k2 = if (g % 7 == 3) null else s"m${g % 5}"
    val n2: java.lang.Long = if (g % 6 == 0) null else 100L + i
    val newer = seg == 1
    Row(t, g.toLong, Seq("alpha", "beta", "gamma")(g % 3), k, n, tags, props,
      if (newer) k2 else null, if (newer) n2 else null,
      if (newer) tags else null, if (newer) props else null)
  }

  private val schema = StructType(Seq(
    StructField("__time", TimestampType), StructField("idx", LongType),
    StructField("kind", StringType), StructField("k", StringType),
    StructField("n", LongType), StructField("tags", ArrayType(StringType)),
    StructField("props", StringType), StructField("k2", StringType),
    StructField("n2", LongType), StructField("tags2", ArrayType(StringType)),
    StructField("props2", StringType)))
  private val base = Seq("__time", "idx", "kind", "k", "n", "tags", "props")

  private lazy val tables: Unit = {
    val all = spark.createDataFrame(
      java.util.Arrays.asList((0 until 2 * PerSeg).map(row): _*), schema)
    all.createOrReplaceTempView("pm_truth")
    def write(df: org.apache.spark.sql.DataFrame, out: String, json: String,
              mode: String, bitmaps: Boolean): Unit =
      df.coalesce(1).write.format("druid").option("segmentGranularity", "day")
        .option("complexTypes", json).option("jsonEncoding", "nested")
        .option("bitmapIndexes", bitmaps.toString).mode(mode).save(out)
    val tmp = Files.createTempDirectory("graft-pushmatrix").toString
    // bm: the older segment first, then the newer one with four more columns
    write(all.filter(s"idx < $PerSeg").select(base.head, base.tail: _*),
      s"$tmp/bm", "props:json", "overwrite", bitmaps = true)
    write(all.filter(s"idx >= $PerSeg"), s"$tmp/bm",
      "props:json,props2:json", "append", bitmaps = true)
    write(all.select(base.head, base.tail: _*), s"$tmp/nobm", "props:json",
      "overwrite", bitmaps = false)
    spark.read.format("druid").load(s"$tmp/bm").createOrReplaceTempView("pm_bm")
    spark.read.format("druid").load(s"$tmp/nobm").createOrReplaceTempView("pm_nobm")
  }

  /** (table, string, numeric, multi-value, json column) per state. */
  private val states = Seq(
    "bm" -> ("pm_bm", "k", "n", "tags", "props"),
    "nobm" -> ("pm_nobm", "k", "n", "tags", "props"),
    "absent" -> ("pm_bm", "k2", "n2", "tags2", "props2"))

  private val timeLeaves = Seq(
    "time<" -> "__time < TIMESTAMP '2024-01-02 00:00:00'",
    // a sub-millisecond bound just past the newer segment's first row
    "time<sub-ms" -> "__time < TIMESTAMP '2024-01-02 00:00:00.0005'",
    // exclusive and inclusive bounds exactly on the older segment's last row
    "time>" -> "__time > TIMESTAMP '2024-01-01 19:20:00'",
    "time>=" -> "__time >= TIMESTAMP '2024-01-01 19:20:00'",
    "time<=" -> "__time <= TIMESTAMP '2024-01-01 19:20:00'",
    "time=" -> "__time = TIMESTAMP '2024-01-02 00:00:00'",
    "time-in" -> ("__time IN (TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-01 00:40:00')"))

  // $s string, $n numeric column
  private val columnLeaves = Seq(
    "str=" -> "$s = 'm1'",
    "str-in" -> "$s IN ('a1', 'm2')",
    "str<=>" -> "$s <=> 'm1'",
    "prefix" -> "$s LIKE 'm%'",
    "contains" -> "$s LIKE '%2%'",
    "ends" -> "$s LIKE '%3'",
    "str>=" -> "$s >= 'm'",
    "str<" -> "$s < 'b'",
    "str-not-null" -> "$s IS NOT NULL",
    "str-null" -> "$s IS NULL",
    "num=" -> "$n = 105",
    "num>" -> "$n > 110",
    "num<=" -> "$n <= 20",
    "num-in" -> "$n IN (10, 200)",
    "num-not-null" -> "$n IS NOT NULL",
    "num-null" -> "$n IS NULL",
    "num<=>" -> "$n <=> 105")

  // bitmap hints the optimizer rule adds: conjuncts only, so top level only
  private val hintLeaves = Seq(
    "mv-contains" -> "array_contains($mv, 't1')",
    "mv-bound" -> "exists($mv, x -> x >= 'u1')",
    "nested-eq" -> "get_json_object($j, '$.tag') = 'p1'",
    "version-bound" -> "version_cmp($s, 'm2') >= 0")

  private val placements = Seq[(String, String => String)](
    "top" -> (l => l),
    "or" -> (l => s"($l) OR kind = 'zzz'"),
    "and-in-or" -> (l => s"(($l) AND idx >= 0) OR kind = 'zzz'"))

  /** (segments planned, rows the bitmap selection keeps) per case. */
  private val expected: Map[String, (Int, Int)] = Map(
    "time</top" -> (1, 30), "time</or" -> (1, 30), "time</and-in-or" -> (1, 30),
    "time<sub-ms/top" -> (2, 60), "time<sub-ms/or" -> (2, 60),
    "time<sub-ms/and-in-or" -> (2, 60),
    "time>/top" -> (1, 30), "time>/or" -> (1, 30), "time>/and-in-or" -> (1, 30),
    "time>=/top" -> (2, 60), "time>=/or" -> (2, 60), "time>=/and-in-or" -> (2, 60),
    "time<=/top" -> (1, 30), "time<=/or" -> (1, 30), "time<=/and-in-or" -> (1, 30),
    "time=/top" -> (1, 30), "time=/or" -> (1, 30), "time=/and-in-or" -> (1, 30),
    "time-in/top" -> (1, 30), "time-in/or" -> (1, 30), "time-in/and-in-or" -> (1, 30),
    "str=/top/bm" -> (1, 5), "str=/top/nobm" -> (1, 30), "str=/top/absent" -> (1, 5),
    "str=/or/bm" -> (1, 5), "str=/or/nobm" -> (1, 30), "str=/or/absent" -> (2, 5),
    "str=/and-in-or/bm" -> (1, 5), "str=/and-in-or/nobm" -> (1, 30),
    "str=/and-in-or/absent" -> (2, 5),
    "str-in/top/bm" -> (2, 11), "str-in/top/nobm" -> (2, 60),
    "str-in/top/absent" -> (2, 5), "str-in/or/bm" -> (2, 11), "str-in/or/nobm" -> (2, 60),
    "str-in/or/absent" -> (2, 5), "str-in/and-in-or/bm" -> (2, 11),
    "str-in/and-in-or/nobm" -> (2, 60), "str-in/and-in-or/absent" -> (2, 5),
    "str<=>/top/bm" -> (1, 5), "str<=>/top/nobm" -> (1, 30), "str<=>/top/absent" -> (2, 5),
    "str<=>/or/bm" -> (1, 5), "str<=>/or/nobm" -> (1, 30), "str<=>/or/absent" -> (2, 5),
    "str<=>/and-in-or/bm" -> (1, 5), "str<=>/and-in-or/nobm" -> (1, 30),
    "str<=>/and-in-or/absent" -> (2, 5),
    "prefix/top/bm" -> (1, 25), "prefix/top/nobm" -> (1, 30),
    "prefix/top/absent" -> (1, 25), "prefix/or/bm" -> (1, 25), "prefix/or/nobm" -> (1, 30),
    "prefix/or/absent" -> (2, 25), "prefix/and-in-or/bm" -> (1, 25),
    "prefix/and-in-or/nobm" -> (1, 30), "prefix/and-in-or/absent" -> (2, 25),
    "contains/top/bm" -> (2, 10), "contains/top/nobm" -> (2, 60),
    "contains/top/absent" -> (1, 5), "contains/or/bm" -> (2, 10),
    "contains/or/nobm" -> (2, 60), "contains/or/absent" -> (2, 5),
    "contains/and-in-or/bm" -> (2, 10), "contains/and-in-or/nobm" -> (2, 60),
    "contains/and-in-or/absent" -> (2, 5),
    "ends/top/bm" -> (2, 10), "ends/top/nobm" -> (2, 60), "ends/top/absent" -> (1, 5),
    "ends/or/bm" -> (2, 10), "ends/or/nobm" -> (2, 60), "ends/or/absent" -> (2, 5),
    "ends/and-in-or/bm" -> (2, 10), "ends/and-in-or/nobm" -> (2, 60),
    "ends/and-in-or/absent" -> (2, 5),
    "str>=/top/bm" -> (1, 25), "str>=/top/nobm" -> (1, 30), "str>=/top/absent" -> (1, 25),
    "str>=/or/bm" -> (1, 25), "str>=/or/nobm" -> (1, 30), "str>=/or/absent" -> (2, 25),
    "str>=/and-in-or/bm" -> (1, 25), "str>=/and-in-or/nobm" -> (1, 30),
    "str>=/and-in-or/absent" -> (2, 25),
    "str</top/bm" -> (1, 26), "str</top/nobm" -> (1, 30), "str</top/absent" -> (0, 0),
    "str</or/bm" -> (1, 26), "str</or/nobm" -> (1, 30), "str</or/absent" -> (1, 0),
    "str</and-in-or/bm" -> (1, 26), "str</and-in-or/nobm" -> (1, 30),
    "str</and-in-or/absent" -> (1, 0),
    "str-not-null/top/bm" -> (2, 60), "str-not-null/top/nobm" -> (2, 60),
    "str-not-null/top/absent" -> (1, 30), "str-not-null/or/bm" -> (2, 60),
    "str-not-null/or/nobm" -> (2, 60), "str-not-null/or/absent" -> (1, 30),
    "str-not-null/and-in-or/bm" -> (2, 60), "str-not-null/and-in-or/nobm" -> (2, 60),
    "str-not-null/and-in-or/absent" -> (1, 30),
    "str-null/top/bm" -> (2, 60), "str-null/top/nobm" -> (2, 60),
    "str-null/top/absent" -> (2, 60), "str-null/or/bm" -> (2, 60),
    "str-null/or/nobm" -> (2, 60), "str-null/or/absent" -> (2, 60),
    "str-null/and-in-or/bm" -> (2, 60), "str-null/and-in-or/nobm" -> (2, 60),
    "str-null/and-in-or/absent" -> (2, 60),
    "num=/top/bm" -> (1, 25), "num=/top/absent" -> (1, 25), "num=/or/bm" -> (1, 30),
    "num=/or/absent" -> (2, 60), "num=/and-in-or/bm" -> (1, 30),
    "num=/and-in-or/absent" -> (2, 60),
    "num>/top/bm" -> (1, 25), "num>/top/absent" -> (1, 25), "num>/or/bm" -> (1, 30),
    "num>/or/absent" -> (2, 60), "num>/and-in-or/bm" -> (1, 30),
    "num>/and-in-or/absent" -> (2, 60),
    "num<=/top/bm" -> (1, 30), "num<=/top/absent" -> (0, 0), "num<=/or/bm" -> (1, 30),
    "num<=/or/absent" -> (1, 30), "num<=/and-in-or/bm" -> (1, 30),
    "num<=/and-in-or/absent" -> (1, 30),
    "num-in/top/bm" -> (1, 30), "num-in/top/absent" -> (1, 30), "num-in/or/bm" -> (1, 30),
    "num-in/or/absent" -> (1, 30), "num-in/and-in-or/bm" -> (1, 30),
    "num-in/and-in-or/absent" -> (1, 30),
    "num-not-null/top/bm" -> (2, 55), "num-not-null/top/absent" -> (1, 25),
    "num-not-null/or/bm" -> (2, 55), "num-not-null/or/absent" -> (1, 25),
    "num-not-null/and-in-or/bm" -> (2, 55), "num-not-null/and-in-or/absent" -> (1, 25),
    "num-null/top/bm" -> (1, 5), "num-null/top/absent" -> (2, 35),
    "num-null/or/bm" -> (1, 5), "num-null/or/absent" -> (2, 35),
    "num-null/and-in-or/bm" -> (1, 5), "num-null/and-in-or/absent" -> (2, 35),
    "num<=>/top/bm" -> (1, 30), "num<=>/top/absent" -> (2, 60), "num<=>/or/bm" -> (1, 30),
    "num<=>/or/absent" -> (2, 60), "num<=>/and-in-or/bm" -> (1, 30),
    "num<=>/and-in-or/absent" -> (2, 60),
    "mv-contains/top/bm" -> (2, 13), "mv-contains/top/nobm" -> (2, 60),
    "mv-contains/top/absent" -> (1, 6),
    "mv-bound/top/bm" -> (2, 33), "mv-bound/top/nobm" -> (2, 60),
    "mv-bound/top/absent" -> (2, 16),
    "nested-eq/top/bm" -> (2, 18), "nested-eq/top/nobm" -> (2, 18),
    "nested-eq/top/absent" -> (2, 9),
    "version-bound/top/bm" -> (2, 15), "version-bound/top/nobm" -> (2, 60),
    "version-bound/top/absent" -> (2, 15))

  private def check(id: String, table: String, cond: String): Unit = {
    tables
    val df = spark.sql(s"SELECT idx FROM $table WHERE $cond")
    val truth = spark.sql(s"SELECT idx FROM pm_truth WHERE $cond")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == truth, s"$id rows")
    val parts = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.toBatch.planInputPartitions().toSeq
    }.flatten.collect { case p: DruidInputPartition => p }
    val selected = parts.map { p =>
      Option(RowSelectionProbe.build(DruidSegment.open(p.dir), p))
        .map(_.length).getOrElse(p.rowEnd - p.rowStart)
    }.sum
    val got = (parts.map(_.dir).distinct.size, selected)
    assert(got == expected(id), s"$id (segments, selected)")
  }

  for ((leaf, cond) <- timeLeaves; (place, wrap) <- placements)
    test(s"$leaf / $place") { check(s"$leaf/$place", "pm_bm", wrap(cond)) }

  for ((leaf, cond) <- columnLeaves; (place, wrap) <- placements;
       (state, (table, s, n, _, _)) <- states
       if !(leaf.startsWith("num") && state == "nobm"))
    test(s"$leaf / $place / $state") {
      check(s"$leaf/$place/$state", table,
        wrap(cond.replace("$s", s).replace("$n", n)))
    }

  for ((leaf, cond) <- hintLeaves; (state, (table, s, _, mv, j)) <- states)
    test(s"$leaf / top / $state") {
      check(s"$leaf/top/$state", table,
        cond.replace("$s", s).replace("$mv", mv).replace("$j", j))
    }
}
