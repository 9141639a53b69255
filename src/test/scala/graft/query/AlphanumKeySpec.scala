package graft.query

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The alphanumeric bound-filter ordering is implemented as an
  * ORDER-PRESERVING SORT KEY (digit runs become length-prefixed
  * stripped numbers in the '0' ASCII band). This spec pins the
  * encoding against an INDEPENDENT chunk-wise Alphanum comparator:
  * for arbitrary strings, comparing keys lexicographically must agree
  * with comparing the strings alphanumerically. The two
  * implementations share no code — a bug in either construction
  * breaks the property.
  */
class AlphanumKeySpec extends AnyFunSuite {

  /** Reference comparator, written chunk-wise like Koelle's Alphanum:
    * ASCII-digit runs compare as numbers (leading zeros ignored;
    * equal numbers continue), a digit run against a non-digit char
    * compares like the char '0' against it, other chars compare as
    * themselves, and a strict prefix sorts first.
    */
  private def alphanumCompare(a: String, b: String): Int = {
    def isD(c: Char) = c >= '0' && c <= '9'
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.charAt(i); val cb = b.charAt(j)
      if (isD(ca) && isD(cb)) {
        var i2 = i; while (i2 < a.length && isD(a.charAt(i2))) i2 += 1
        var j2 = j; while (j2 < b.length && isD(b.charAt(j2))) j2 += 1
        val na = a.substring(i, i2).dropWhile(_ == '0')
        val nb = b.substring(j, j2).dropWhile(_ == '0')
        if (na.length != nb.length) return na.length - nb.length
        val c = na.compareTo(nb)
        if (c != 0) return c
        i = i2; j = j2
      } else if (isD(ca)) { // digit run vs char: the run sits at '0'
        return '0' - cb
      } else if (isD(cb)) {
        return ca - '0'
      } else {
        if (ca != cb) return ca - cb
        i += 1; j += 1
      }
    }
    (a.length - i) - (b.length - j)
  }

  private def sign(x: Int): Int = Integer.signum(x)

  private val alphanumString: Gen[String] = {
    val ch = Gen.frequency(
      4 -> Gen.numChar,
      4 -> Gen.alphaChar,
      2 -> Gen.oneOf('!', '#', '-', '.', '_', '~', ' ', 'é'))
    Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, ch).map(_.mkString))
  }

  test("key-lexicographic order == chunk-wise alphanumeric order (property)") {
    val prop = Prop.forAllNoShrink(alphanumString, alphanumString) { (a, b) =>
      val viaKey = sign(NativeQuery.alphanumKeyOf(a)
        .compareTo(NativeQuery.alphanumKeyOf(b)))
      val viaCmp = sign(alphanumCompare(a, b))
      if (viaKey != viaCmp)
        println(s"MISMATCH: '$a' vs '$b' key=$viaKey cmp=$viaCmp")
      viaKey == viaCmp
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(r.passed, r.status.toString)
  }

  test("the Catalyst key expression computes the SAME encoding as the mirror") {
    // the property above pins the driver-side mirror; this pins the
    // SHIPPED Catalyst expression to it — equality of encodings on a
    // sampled batch transfers the whole ordering property to the
    // expression production actually uses
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val samples = (Iterator.fill(400)(alphanumString.sample).flatten ++
      Iterator("", "0", "00", "2", "0002", "10", "a0b", "item010x7",
        "u5a", "x!9", "00a00", "1e5", "9 9", "é12é")).toSeq.distinct
    val got = samples.toDF("s")
      .select(col("s"), NativeQuery.alphanumKey(col("s")).as("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    samples.foreach { s =>
      assert(got(s) == NativeQuery.alphanumKeyOf(s),
        s"catalyst key differs from mirror for '$s': " +
          s"'${got(s)}' vs '${NativeQuery.alphanumKeyOf(s)}'")
    }
  }

  test("the imperative production key (Alphanum.keyOf) equals the mirror encoding") {
    // bound filters and sort paths now compute the key with one
    // static call per row (graft.sql.Alphanum) — byte-identical to
    // the mirror encoding the two tests above pin to the independent
    // chunk-wise comparator
    val prop = Prop.forAllNoShrink(alphanumString) { s =>
      graft.sql.Alphanum.keyOf(s) == NativeQuery.alphanumKeyOf(s)
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(r.passed, r.status.toString)
    Seq("", "0", "00", "007", "2", "0002", "10", "a0b", "item010x7",
      "u5a", "x!9", "00a00", "1e5", "9 9", "é12é").foreach { s =>
      assert(graft.sql.Alphanum.keyOf(s) == NativeQuery.alphanumKeyOf(s),
        s"imperative key differs for '$s'")
    }
  }

  test("the codegen'd alphanum_key expression computes the same encoding") {
    val spark = graft.SparkTestSession.spark
    graft.sql.GraftExtensions.install(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col}
    val samples = (Iterator.fill(200)(alphanumString.sample).flatten ++
      Iterator("", "0", "007", "item010x7", "é12é")).toSeq.distinct
    val got = samples.toDF("s")
      .select(col("s"), call_function("alphanum_key", col("s")).as("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    samples.foreach { s =>
      assert(got(s) == NativeQuery.alphanumKeyOf(s),
        s"codegen key differs from mirror for '$s'")
    }
  }

  test("targeted pairs: magnitudes, leading zeros, mixed chunks, prefixes") {
    val ordered = Seq("", "0", "00", "2", "0002", "10", "a", "a0b", "a2",
      "a10", "a10!", "a10a", "b", "item2", "item010", "item10", "item100")
    // every adjacent pair must be <= under both orders; representative
    // equalities ("0" vs "00", "item010" vs "item10") collapse to ties
    ordered.sliding(2).foreach { case Seq(x, y) =>
      assert(alphanumCompare(x, y) <= 0, s"'$x' !<= '$y' (reference)")
      assert(NativeQuery.alphanumKeyOf(x)
        .compareTo(NativeQuery.alphanumKeyOf(y)) <= 0, s"'$x' !<= '$y' (key)")
    }
    assert(NativeQuery.alphanumKeyOf("007") == NativeQuery.alphanumKeyOf("7"))
    assert(alphanumCompare("007", "7") == 0)
  }
}
