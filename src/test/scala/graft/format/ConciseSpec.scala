package graft.format

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CONCISE bitmap codec: word-level decode vectors straight from the
  * format definition (literal / 0-fill / 1-fill / mixed fills with a
  * flipped bit), encoder round-trips over adversarial sets, and the
  * end-to-end proof that a Concise-written segment serves EXACT bitmap
  * row selection through the same pushdown machinery as Roaring.
  */
class ConciseSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def set(words: Int*): Set[Int] = {
    val bm = Concise.decode(words.toArray)
    val out = scala.collection.mutable.Set[Int]()
    val it = bm.getIntIterator
    while (it.hasNext) out += it.next()
    out.toSet
  }

  test("literal words decode bit-positionally") {
    assert(set(0x80000028) == Set(3, 5))
    assert(set(0x800003FF) == (0 until 10).toSet)
    assert(set(0xFFFFFFFF) == (0 until 31).toSet) // all-ones literal
    assert(set(0x80000000) == Set.empty)          // all-zeros literal
    // two literals: second block offsets by 31
    assert(set(0x80000028, 0x80000001) == Set(3, 5, 31))
  }

  test("fills span n+1 blocks") {
    // 0-fill of 1 block (n=0) then a literal: block index shifts by 1
    assert(set(0x00000000, 0x80000001) == Set(31))
    // 0-fill of 2 blocks (n=1): shift by 62
    assert(set(0x00000001, 0x80000001) == Set(62))
    // 1-fill of 2 blocks: 62 ones
    assert(set(0x40000001) == (0 until 62).toSet)
    // 1-fill of 1 block after a literal
    assert(set(0x80000028, 0x40000000) == Set(3, 5) ++ (31 until 62).toSet)
  }

  test("mixed fills flip bit p-1 of the first block") {
    // 0-fill, 2 blocks, p=5: integer 4 is set
    assert(set((5 << 25) | 0x00000001, 0x80000001) == Set(4, 62))
    // 1-fill, 2 blocks, p=1: integer 0 is cleared
    assert(set(0x40000000 | (1 << 25) | 0x00000001) ==
      (1 until 62).toSet)
    // 1-fill, 1 block, p=31: integer 30 cleared
    assert(set(0x40000000 | (31 << 25)) == (0 until 30).toSet)
  }

  test("encode/decode round-trips adversarial sets") {
    def rt(s: Seq[Int]): Unit = {
      val in = org.roaringbitmap.buffer.MutableRoaringBitmap.bitmapOf(s: _*)
      val out = Concise.decode(Concise.encode(in))
      assert(out == in, s"round-trip mismatch for ${s.take(20)}...")
    }
    rt(Nil)
    rt(Seq(0))
    rt(Seq(30, 31, 61, 62)) // block boundaries
    rt(0 until 1000)        // dense run
    rt(Seq(0, 1000000000))  // gap far beyond one fill word? (within)
    rt(Seq(5, Int.MaxValue - 1)) // giant gap: fill splitting
    // deterministic pseudo-random mixture
    def h(i: Long): Long = {
      var x = i * 0x9E3779B97F4A7C15L
      x ^= x >>> 27; x *= 0x3C79AC492BA7B653L; x ^= x >>> 33; x
    }
    rt((0 until 5000).map(i => ((h(i) % 2000000L + 2000000L) % 2000000L).toInt).distinct.sorted)
  }

  test("compacting encoder emits mixed fills and 1-fills; decode inverts it") {
    import org.roaringbitmap.buffer.MutableRoaringBitmap
    def rt(s: Seq[Int]): Array[Int] = {
      val in = MutableRoaringBitmap.bitmapOf(s: _*)
      val words = Concise.encodeCompact(in)
      assert(Concise.decode(words) == in,
        s"compact round-trip mismatch for ${s.take(20)}...")
      // and agrees with the plain encoder's decode
      assert(Concise.decode(Concise.encode(in)) == in)
      words
    }
    // lone set bit + long zero run + terminator: mixed 0-fill (p>0)
    val w1 = rt(Seq(4, 31 * 100))
    assert(w1.exists(w => (w & 0xC0000000) == 0 && ((w >>> 25) & 0x1F) != 0),
      s"no mixed 0-fill emitted: ${w1.map(_.toHexString).mkString(",")}")
    // two full blocks: one 1-fill word spanning both
    val w2 = rt(0 until 62)
    assert(w2.length == 1 && (w2(0) & 0xC0000000) == 0x40000000)
    // ones run with one clear bit in its FIRST block: mixed 1-fill
    val w3 = rt((0 until 31 * 50).filterNot(_ == 7))
    assert(w3.exists(w => (w & 0xC0000000) == 0x40000000 &&
      ((w >>> 25) & 0x1F) != 0),
      s"no mixed 1-fill emitted: ${w3.map(_.toHexString).mkString(",")}")
    // compactness sanity: lone bit then a giant gap is 2 words
    // (mixed fill + terminator literal), not gap/31 literals
    assert(rt(Seq(3, 31 * 1000000)).length == 2)
    // adversarial shapes: boundaries, alternating full/empty blocks,
    // flip bits at positions 1 and 31, pseudo-random mixtures
    rt(Seq(0)); rt(Seq(30)); rt(Seq(31)); rt(Seq(30, 31, 61, 62))
    rt((0 until 31 * 20).filter(i => (i / 31) % 2 == 0))
    rt(Seq(0, 31 * 10)); rt(Seq(30, 31 * 10))
    rt((0 until 31 * 10).filterNot(_ == 0))
    rt((0 until 31 * 10).filterNot(_ == 30))
    def h(i: Long): Long = {
      var x = i * 0x9E3779B97F4A7C15L
      x ^= x >>> 27; x *= 0x3C79AC492BA7B653L; x ^= x >>> 33; x
    }
    (0 until 20).foreach { seed =>
      rt((0 until 400).map(i =>
        (((h(seed * 1000L + i) % 50000L) + 50000L) % 50000L).toInt)
        .distinct.sorted)
    }
  }

  test("a giant gap splits into multiple fill words") {
    val in = org.roaringbitmap.buffer.MutableRoaringBitmap.bitmapOf(3, Int.MaxValue - 5)
    val words = Concise.encode(in)
    // gap blocks ≈ 2^31/31 ≈ 69M > 2^25: at least 3 fill words
    assert(words.count(w => (w & 0xC0000000) == 0) >= 3, words.length.toString)
    assert(Concise.decode(words) == in)
  }

  test("a Concise-written segment serves exact bitmap row selection") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-concise").toString + "/t"
    val rows = (0 until 4000).map { i =>
      (1700000000000L + i, Seq("alpha", "beta", "gamma", null)(i % 4),
        i.toLong)
    }
    rows.toDF("__time", "kind", "n").coalesce(1)
      .write.format("druid").option("bitmapEncoding", "concise")
      .mode("overwrite").save(out)
    val segDir = graft.sources.druid.DruidTableUtil.discoverSegments(out).head
    // the trailer parses as a Concise (type 0x00) bitmap section
    val seg = graft.format.DruidSegment.open(segDir)
    val part0 = graft.sources.druid.DruidInputPartition(
      segDir, 0, rows.length, Seq(graft.sources.druid.StrValues("kind", Seq("beta"))))
    val sel = Option(graft.sources.druid.RowSelectionProbe.build(seg, part0))
    assert(sel.isDefined, "no bitmap selection on a Concise segment")
    assert(sel.get.toSeq == rows.indices.filter(i => i % 4 == 1),
      "Concise selection differs from the expected row set")
    // end-to-end: counts match, plan shows the pushed dim filter
    val df = spark.read.format("druid").load(out)
      .filter(col("kind") === "beta")
    assert(df.count() == rows.count(_._2 == "beta"))
    // and equals the Roaring-encoded twin on a battery of predicates
    val out2 = java.nio.file.Files.createTempDirectory("graft-concise-r").toString + "/t"
    rows.toDF("__time", "kind", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(out2)
    val c = spark.read.format("druid").load(out)
    val r = spark.read.format("druid").load(out2)
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      _.filter(col("kind") === "alpha"),
      _.filter(col("kind").isin("alpha", "gamma")),
      _.filter(col("kind").isNull),
      _.filter(col("kind").startsWith("ga")),
      _.filter(col("kind") >= "beta")
    ).zipWithIndex.foreach { case (p, i) =>
      assert(p(c).count() == p(r).count(), s"predicate $i diverges")
      assert(p(c).exceptAll(p(r)).isEmpty && p(r).exceptAll(p(c)).isEmpty,
        s"predicate $i row sets diverge")
    }
  }
}
