package graft.format

import java.nio.ByteBuffer

import org.scalatest.funsuite.AnyFunSuite

/** Round-trip coverage for the front-coded string dictionary (an
  * encoding real Druid offers that both the reference and plain
  * GenericIndexed dictionaries lack).
  */
class FrontCodedSpec extends AnyFunSuite {

  private def fc(values: Seq[String], hasNull: Boolean = false,
                 bucketSize: Int = 16): FrontCodedIndexed = {
    val sorted = values.sorted(StringColumn.utf8Order)
    val bytes = FrontCodedIndexed.write(
      sorted.map(_.getBytes("UTF-8")), hasNull, bucketSize)
    new FrontCodedIndexed(ByteBuffer.wrap(bytes), 0)
  }

  private val words = Seq(
    "alpha", "alphabet", "alphanumeric", "beta", "betamax", "beta-test",
    "gamma", "gammaray", "delta", "deltoid", "epsilon", "eta", "etaoin",
    "theta", "thetan", "iota", "kappa", "kappas", "lambda", "lambdas",
    "mu", "nu", "xi", "omicron", "pi", "rho", "sigma", "tau", "upsilon",
    "phi", "chi", "psi", "omega", "omegas"
  ).distinct

  test("round trip across bucket sizes, counts on and off bucket edges") {
    for (bucketSize <- Seq(1, 2, 4, 16, 128); n <- Seq(1, 2, 15, 16, 17, words.length)) {
      val vals = words.take(n).sorted(StringColumn.utf8Order)
      val d = fc(vals, hasNull = false, bucketSize = bucketSize)
      assert(d.numElements == n, s"bucketSize=$bucketSize n=$n")
      vals.zipWithIndex.foreach { case (v, i) =>
        assert(d.stringAt(i) == v, s"bucketSize=$bucketSize n=$n id=$i")
      }
      assert(d.allBytes.map(new String(_, "UTF-8")).toSeq == vals)
    }
  }

  test("null entry is id 0, out of band") {
    val d = fc(words, hasNull = true, bucketSize = 4)
    assert(d.numElements == words.length + 1)
    assert(d.bytesAt(0) == null && d.stringAt(0) == null)
    assert(d.allBytes.head == null)
    assert(d.stringAt(1) == words.sorted(StringColumn.utf8Order).head)
  }

  test("empty dictionary and null-only dictionary") {
    val e = fc(Nil)
    assert(e.numElements == 0 && e.totalSize == FrontCodedIndexed.HEADER)
    val n = fc(Nil, hasNull = true)
    assert(n.numElements == 1 && n.stringAt(0) == null)
  }

  test("totalSize chains: a structure written after another parses") {
    val a = FrontCodedIndexed.write(
      words.take(9).sorted(StringColumn.utf8Order).map(_.getBytes("UTF-8")),
      hasNull = false, bucketSize = 4)
    val b = FrontCodedIndexed.write(
      words.drop(9).sorted(StringColumn.utf8Order).map(_.getBytes("UTF-8")),
      hasNull = true, bucketSize = 2)
    val buf = ByteBuffer.wrap(a ++ b)
    val first = new FrontCodedIndexed(buf, 0)
    assert(first.totalSize == a.length)
    val second = new FrontCodedIndexed(buf, first.totalSize)
    assert(second.numElements == words.length - 9 + 1)
    assert(second.stringAt(1) ==
      words.drop(9).sorted(StringColumn.utf8Order).head)
  }

  test("front coding shrinks a shared-prefix dictionary") {
    val vals = (0 until 1000).map(i => f"segment-2024-01-01T00:00:00/$i%06d")
      .sorted(StringColumn.utf8Order)
    val plain = GenericIndexed.writeLengthPrefixed(
      vals.map(_.getBytes("UTF-8")), sorted = true)
    val coded = FrontCodedIndexed.write(
      vals.map(_.getBytes("UTF-8")), hasNull = false)
    assert(coded.length < plain.length / 2,
      s"front coding gained too little: ${coded.length} vs ${plain.length}")
    val d = new FrontCodedIndexed(ByteBuffer.wrap(coded), 0)
    assert((0 until 1000).forall(i => d.stringAt(i) == vals(i)))
  }

  test("string column with front-coded dictionary: values, search, bitmaps") {
    val rows: Seq[String] = Seq("carrot", null, "carbon", "care", "dove",
      "carrot", "carbon", null, "dove", "carrot", "cart", "carbon")
    val bytes = StringColumn.write(rows, withBitmaps = true,
      frontCodedDict = true)
    val sc = new StringColumn(ByteBuffer.wrap(bytes), 0, bytes.length)
    assert(sc.dictionary.isInstanceOf[FrontCodedIndexed])
    assert((0 until rows.length).map(sc.stringAt) == rows)
    // binary search + prefix range work through the StringDict trait
    assert(sc.dictIdOf("care") >= 0 && sc.dictIdOf("missing") == -1)
    val (lo, hi) = sc.dictIdRangeForPrefix("car")
    assert((lo until hi).map(sc.dictionary.stringAt).toSet ==
      Set("carbon", "care", "carrot", "cart"))
    // the bitmap trailer survives the dictionary swap
    assert(sc.bitmaps.isDefined)
    val carrotRows = sc.bitmapFor(sc.dictIdOf("carrot")).get
    assert(carrotRows.toArray.toSeq ==
      rows.zipWithIndex.filter(_._1 == "carrot").map(_._2))
  }

  test("DSv2 round trip with stringEncoding=frontCoded keeps pushdown exact") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def nameOf(i: Int): String =
      if (i % 499 == 0) null else f"seg-${"abcd".charAt(i / 1000)}${i % 1000}%03d"
    val out = java.nio.file.Files.createTempDirectory("graft-fc").toString + "/t"
    (0 until 4000).map(i => (1700000000000L + i, nameOf(i), i.toLong))
      .toDF("__time", "name", "n")
      .repartitionByRange(2, col("name"))
      .write.format("druid").option("stringEncoding", "frontCoded")
      .mode("overwrite").save(out)
    // the segments on disk really carry front-coded dictionaries
    val segDir = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(p => p.getFileName.toString.startsWith("segment-"))
      .findFirst().get()
    DruidSegment.open(segDir.toString).column("name") match {
      case StringColumnData(sc) =>
        assert(sc.dictionary.isInstanceOf[FrontCodedIndexed])
      case other => fail(s"unexpected column data $other")
    }
    val df = spark.read.format("druid").load(out)
    assert(df.count() == 4000)
    val pfx = df.filter(col("name").startsWith("seg-b"))
    val expected = (0 until 4000).count(i =>
      nameOf(i) != null && nameOf(i).startsWith("seg-b"))
    assert(pfx.count() == expected)
    val p = pfx.queryExecution.executedPlan.toString
    assert(p.contains("StrPrefix(name,"),
      s"prefix filter missing from scan description:\n$p")
    val eq = df.filter(col("name") === "seg-c123")
    assert(eq.count() == (0 until 4000).count(i => nameOf(i) == "seg-c123"))
    assert(df.filter(col("name").isNull).count() ==
      (0 until 4000).count(i => nameOf(i) == null))
  }

  test("multi-value column with front-coded dictionary round-trips") {
    val rows: Seq[Seq[String]] = Seq(
      Seq("tag-alpha", "tag-beta"), Seq("tag-beta"), null,
      Seq("tag-alpha", "tag-gamma", "tag-delta"), Seq(), Seq("tag-delta"))
    val plain = StringMultiColumn.write(rows)
    val coded = StringMultiColumn.write(rows, frontCodedDict = true)
    assert(coded.length < plain.length)
    val mc = new StringMultiColumn(ByteBuffer.wrap(coded), 0, coded.length)
    assert(mc.dictionary.isInstanceOf[FrontCodedIndexed])
    rows.zipWithIndex.foreach {
      case (null, r) => assert(mc.isNullAt(r))
      case (vs, r) => assert(mc.valuesAt(r).toSeq == vs)
    }
    val gc = new StringMultiColumn(ByteBuffer.wrap(plain), 0, plain.length)
    assert(mc.dictionaryBytes.map(new String(_, "UTF-8")).toSeq ==
      gc.dictionaryBytes.map(new String(_, "UTF-8")).toSeq)
  }

  test("generic and front-coded columns decode identically") {
    val rows: Seq[String] = (0 until 500).map {
      case i if i % 17 == 0 => null
      case i => f"value-${i % 37}%03d"
    }
    val plain = StringColumn.write(rows)
    val coded = StringColumn.write(rows, frontCodedDict = true)
    assert(coded.length < plain.length)
    val a = new StringColumn(ByteBuffer.wrap(plain), 0, plain.length)
    val b = new StringColumn(ByteBuffer.wrap(coded), 0, coded.length)
    assert((0 until rows.length).forall(i => a.stringAt(i) == b.stringAt(i)))
    assert(a.dictionaryBytes.map(x => if (x == null) null else new String(x, "UTF-8")).toSeq ==
      b.dictionaryBytes.map(x => if (x == null) null else new String(x, "UTF-8")).toSeq)
  }
}
