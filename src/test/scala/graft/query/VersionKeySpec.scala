package graft.query

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The VERSION bound-filter/dimensionOrder comparator is implemented
  * as an array&lt;struct&gt; SORT KEY whose Spark element-wise ordering
  * must equal Maven's version ordering (what Druid's
  * StringComparators.VERSION delegates to). Three layers pin it:
  *
  *  1. targeted vectors — the orderings Maven's own documentation
  *     fixes (qualifier chain, qualifier-before-release, trailing-zero
  *     equivalence) checked against the driver-side mirror;
  *  2. a property run — random version strings compared by the mirror
  *     (a direct three-way item-list comparator, no key encoding);
  *  3. the Catalyst expression itself — pairwise `&lt;`/`==`/`&gt;` of
  *     shipped keys over a sampled batch must agree with the mirror,
  *     transferring 1+2 to the expression production actually uses.
  */
class VersionKeySpec extends AnyFunSuite {

  private def cmp(a: String, b: String): Int =
    Integer.signum(NativeQuery.versionCompareOf(a, b))

  test("Maven-documented orderings hold (mirror)") {
    // the canonical qualifier chain for one release line
    val chain = Seq("1.0-alpha", "1.0-alpha-1", "1.0-beta", "1.0-milestone",
      "1.0-rc", "1.0-snapshot", "1.0", "1.0-sp", "1.0-whatever", "1.0.1",
      "1.1", "1.2-alpha", "1.2", "2.0", "10.0")
    chain.sliding(2).foreach { case Seq(x, y) =>
      assert(cmp(x, y) == -1, s"'$x' should sort before '$y'")
    }
    // trailing-zero / release-alias equivalences
    assert(cmp("1.2", "1.2.0") == 0)
    assert(cmp("1.2", "1.2-ga") == 0)
    assert(cmp("1.2", "1.2.final") == 0)
    assert(cmp("1.2", "1.2.0.0.0") == 0)
    // numeric, not lexicographic, within runs
    assert(cmp("1.9", "1.10") == -1)
    assert(cmp("9", "10") == -1)
    // case folding
    assert(cmp("1.0-ALPHA", "1.0-alpha") == 0)
    // rc == cr alias
    assert(cmp("1.0-rc", "1.0-cr") == 0)
    // Druid segment versions: ISO timestamps order chronologically
    val segs = Seq("2023-01-01T00:00:00.000Z", "2023-01-01T00:00:00.001Z",
      "2023-01-02T00:00:00.000Z", "2023-10-01T00:00:00.000Z",
      "2024-01-01T00:00:00.000Z")
    segs.sliding(2).foreach { case Seq(x, y) =>
      assert(cmp(x, y) == -1, s"segment version '$x' should precede '$y'")
    }
  }

  private val versionGen: Gen[String] = {
    val numSeg = Gen.frequency(
      6 -> Gen.choose(0, 30).map(_.toString),
      1 -> Gen.const("007"),
      1 -> Gen.choose(0, 3).map(n => "0" * n))
    val qualSeg = Gen.oneOf("alpha", "beta", "milestone", "rc", "cr",
      "snapshot", "ga", "final", "sp", "foo", "zzz", "RC", "Alpha")
    val seg = Gen.frequency(5 -> numSeg, 2 -> qualSeg)
    for {
      n    <- Gen.choose(1, 5)
      segs <- Gen.listOfN(n, seg)
      seps <- Gen.listOfN(n - 1, Gen.oneOf(".", "-"))
    } yield segs.head + seps.zip(segs.tail).map { case (s, v) => s + v }.mkString
  }

  test("mirror comparator is a total order on random versions (property)") {
    // antisymmetry + transitivity via sortWith consistency, and
    // sign(a,b) == -sign(b,a)
    val prop = Prop.forAllNoShrink(versionGen, versionGen, versionGen) {
      (a, b, c) =>
        val ab = cmp(a, b); val ba = cmp(b, a)
        val anti = ab == -ba
        // transitivity spot: a<=b && b<=c => a<=c
        val trans = !(cmp(a, b) <= 0 && cmp(b, c) <= 0) || cmp(a, c) <= 0
        anti && trans
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(r.passed, r.status.toString)
  }

  test("the imperative production comparator (VersionOrder) agrees with the mirror") {
    // the bound-filter production path is now the imperative
    // graft.sql.VersionOrder (one static call per row, codegen'd);
    // the mirror and the HOF key encoding stay as the independent
    // cross-checks — all three must agree
    val prop = Prop.forAllNoShrink(versionGen, versionGen) { (a, b) =>
      Integer.signum(graft.sql.VersionOrder.compareStrings(a, b)) == cmp(a, b)
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(r.passed, r.status.toString)
    // targeted vectors the property gen may under-sample
    val vecs = Seq("", "0", "1.0", "1.0-alpha", "1.0-sp", "1.0-whatever",
      "1.2", "1.2.0", "1.2-ga", "1.0--alpha", "5.", ".5", "1..2",
      "2023-01-01T00:00:00.000Z", "99999999999999999999")
    for (a <- vecs; b <- vecs)
      assert(Integer.signum(graft.sql.VersionOrder.compareStrings(a, b)) ==
        cmp(a, b), s"'$a' vs '$b'")
  }

  test("the codegen'd version_cmp expression filters EXACTLY like the mirror") {
    val spark = graft.SparkTestSession.spark
    graft.sql.GraftExtensions.install(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit, signum}
    val samples = (Iterator.fill(120)(versionGen.sample).flatten ++ Iterator(
      "", "0", "1.0", "1.0-alpha", "1.0-sp", "1.7", "1.10", "1.6.9",
      "2023-01-01T00:00:00.000Z")).toSeq.distinct
    val bound = "1.7"
    val got = samples.toDF("a")
      .select(col("a"),
        signum(call_function("version_cmp", col("a"), lit(bound))).as("sign"))
      .collect().map(r => r.getString(0) -> r.getDouble(1).toInt).toMap
    samples.foreach { a =>
      assert(got(a) == cmp(a, bound),
        s"version_cmp sign differs from mirror for '$a' vs '$bound'")
    }
  }

  test("the Catalyst key expression orders EXACTLY like the mirror") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val samples = (Iterator.fill(150)(versionGen.sample).flatten ++ Iterator(
      "", "0", "1.0", "1.0-alpha", "1.0-alpha-1", "1.0-beta", "1.0-rc",
      "1.0-cr", "1.0-snapshot", "1.0-sp", "1.0-whatever", "1.0.1", "1.0.0",
      "1.0-ga", "1.0-final", "1.2-1", "1.10", "1.9", "10", "9", "007", "7",
      "2023-01-01T00:00:00.000Z", "2023-01-01T00:00:00.001Z",
      "2024-06-30T12:00:00.000Z")).toSeq.distinct
    // all pairs through the SHIPPED expression in one job: cross the
    // sample with itself and compute the three-way sign column
    val df = samples.toDF("a").crossJoin(samples.toDF("b"))
    val ka = NativeQuery.versionKey(col("a"))
    val kb = NativeQuery.versionKey(col("b"))
    import org.apache.spark.sql.functions.when
    val got = df.select(col("a"), col("b"),
        when(ka < kb, -1).when(ka === kb, 0).otherwise(1).as("sign"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    samples.foreach { a =>
      samples.foreach { b =>
        assert(got((a, b)) == cmp(a, b),
          s"catalyst sign differs from mirror for '$a' vs '$b': " +
            s"${got((a, b))} vs ${cmp(a, b)}")
      }
    }
  }
}
