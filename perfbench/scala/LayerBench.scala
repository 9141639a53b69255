package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.format._
import graft.sources.druid.SegmentCatalog

/** Decode throughput per encoding: every row of one column read through
  * the `DruidSegment.column` readers in a plain nanoTime loop, over all
  * live segments of a staged table. MB counts decoded bytes: 8 per
  * numeric value, the string length per string, 4 per row id a bitmap
  * yields.
  */
object LayerBench {
  /** Stage one table per writer encoding under `dir`. */
  def stage(spark: SparkSession, dir: String, seed: Long, rows: Long): Map[String, String] = {
    val li = Data.lineitem(spark, seed, rows, 3)
    val events = Data.events(spark, seed, rows / 4, 3, withTags = true, withProps = true)
    Seq(
      ("li_lz4", li, Map("segmentGranularity" -> "year")),
      ("li_zstd", li, Map("segmentGranularity" -> "year", "compression" -> "zstd")),
      ("ev_fc", events.drop("props"),
        Map("segmentGranularity" -> "month", "stringEncoding" -> "frontCoded")),
      ("ev_nested", events.drop("tags"),
        Map("segmentGranularity" -> "month", "jsonEncoding" -> "nested"))
    ).map { case (name, df, opts) => name -> Common.stage(df, s"$dir/$name", opts) }.toMap
  }

  /** metric -> (table key, column) */
  val cases: Seq[(String, (String, String))] = Seq(
    "format.long_lz4_mb_s" -> ("li_lz4", "l_partkey"),
    "format.long_zstd_mb_s" -> ("li_zstd", "l_partkey"),
    "format.double_lz4_mb_s" -> ("li_lz4", "l_extendedprice"),
    "format.string_dict_v2_mb_s" -> ("li_lz4", "l_shipmode"),
    "format.string_frontcoded_v3_mb_s" -> ("ev_fc", "user_name"),
    "format.string_multi_value_mb_s" -> ("ev_fc", "tags"),
    "format.json_nested_v5_mb_s" -> ("ev_nested", "props"),
    "format.bitmap_roaring_mb_s" -> ("li_lz4", "l_shipmode"))

  private def decode(seg: DruidSegment, column: String, bitmaps: Boolean): Long = {
    var bytes = 0L
    seg.column(column) match {
      case StringColumnData(s) if bitmaps =>
        var id = 0
        while (id < s.dictionary.numElements) {
          s.bitmapFor(id).foreach { b =>
            val it = b.getIntIterator
            while (it.hasNext) { it.next(); bytes += 4 }
          }
          id += 1
        }
      case LongColumnData(c, _) =>
        var i = 0; var acc = 0L
        while (i < c.length) { acc += c.get(i); i += 1 }
        bytes += 8L * c.length + (acc & 0)
      case DoubleColumnData(c, _) =>
        var i = 0; var acc = 0.0
        while (i < c.length) { acc += c.get(i); i += 1 }
        bytes += 8L * c.length + (if (acc.isNaN) 1 else 0)
      case StringColumnData(s) =>
        var i = 0
        while (i < s.length) { val v = s.stringAt(i); if (v != null) bytes += v.length; i += 1 }
      case MultiStringColumnData(m) =>
        var i = 0
        while (i < m.length) { m.valuesAt(i).foreach(v => if (v != null) bytes += v.length); i += 1 }
      case NestedColumnData(n) =>
        var i = 0
        while (i < n.length) { val v = n.jsonAt(i); if (v != null) bytes += v.length; i += 1 }
      case other => sys.error(s"no decode loop for $other")
    }
    bytes
  }

  /** Median MB/s over `reps` sweeps per case; segment open time in ms. */
  def run(tables: Map[String, String], reps: Int, t: Trace): Unit = {
    val dirs = tables.map { case (k, root) =>
      k -> SegmentCatalog.listLiveSegmentDirs(Paths.get(root)).map(_.toString).sorted
    }
    val opens = for (_ <- 0 until reps; d <- dirs.values.flatten) yield {
      val t0 = System.nanoTime(); DruidSegment.open(d); (System.nanoTime() - t0) / 1e6
    }
    t.count("format.segment_open_ms", Stats.median(opens))
    val segs = dirs.map { case (k, ds) => k -> ds.map(DruidSegment.open) }
    cases.foreach { case (metric, (table, column)) =>
      val rates = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        val bytes = segs(table).map(decode(_, column, metric.contains("bitmap"))).sum
        bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      t.count(metric, Stats.median(rates))
    }
  }
}
