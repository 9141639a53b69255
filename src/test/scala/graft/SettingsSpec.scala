package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Settings.BadSetting

/** The settings table: one case per scope shows a bad value failing
  * with the setting's name and the value, unknown druid option keys are
  * refused by name, and README's "Settings" section lists exactly the
  * table's rows.
  */
class SettingsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val table: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-settings").toString + "/t"
    (0 until 50).map(i => (new java.sql.Timestamp(1700000000000L + i * 1000L),
      s"k${i % 5}", i.toLong))
      .toDF("__time", "dim", "n").write.format("druid").mode("overwrite").save(d)
    d
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  /** The bad-setting message `f` fails with. */
  private def failure(f: => Any): String = {
    val e = intercept[Throwable](f)
    val bad = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case b: BadSetting => b }
    assert(bad.isDefined, s"not a bad setting: ${rootCause(e)}")
    bad.get.getMessage
  }

  private def withProp[T](name: String, value: String)(f: => T): T = {
    val prev = sys.props.get(name)
    sys.props(name) = value
    try f
    finally prev match {
      case Some(v) => sys.props(name) = v
      case None => sys.props -= name
    }
  }

  test("system property: a bad value names the property and quotes the value") {
    val m = withProp("graft.trash.grace.ms", "abc")(
      failure(graft.sources.druid.SegmentCatalog.trashGraceMs))
    assert(m.contains("graft.trash.grace.ms") && m.contains("'abc'"), m)
    val m2 = withProp("graft.barrier.cache.bound", "0")(
      failure(graft.pipeline.BarrierCache.bound))
    assert(m2.contains("graft.barrier.cache.bound") && m2.contains("'0'"), m2)
    // read at call time: the same call succeeds once the property is valid
    assert(withProp("graft.lease.ttl.ms", "1234")(
      graft.sources.druid.ReadLease.ttlMs) == 1234L)
  }

  test("env var: a bad value names the variable and quotes the value") {
    // the environment of a running JVM is fixed, so the row parses the
    // raw value it would read
    val m = failure(Settings.Cpus.from(Some("abc")))
    assert(m.contains("SPARK_GRAFT_CPUS") && m.contains("'abc'"), m)
    val m2 = failure(Settings.Passes.from(Some("0")))
    assert(m2.contains("SPARK_GRAFT_PASSES") && m2.contains("'0'"), m2)
    assert(Settings.Passes.from(None) == 3)
    assert(Settings.Only.from(Some("q1, dr3,")) == Some(Seq("q1", "dr3")))
  }

  test("read option: a bad value is named; the deleted batchSize is refused by name") {
    val m = failure(spark.read.format("druid").option("rowsPerSplit", "abc")
      .load(table).count())
    assert(m.contains("rowsPerSplit") && m.contains("'abc'"), m)
    // batchSize=0 used to read as an empty table and a negative value
    // threw NegativeArraySizeException; the option no longer exists
    Seq("0", "-1", "4096").foreach { v =>
      val b = failure(spark.read.format("druid").option("batchSize", v)
        .load(table).count())
      assert(b.contains("unknown druid read option 'batchSize'"), b)
    }
    assert(spark.read.format("druid").option("rowsPerSplit", "7")
      .load(table).count() == 50L)
  }

  test("write option: a bad value is named; an unknown key is refused by name") {
    def write(k: String, v: String): Unit =
      spark.read.format("druid").load(table).write.format("druid")
        .option(k, v).mode("overwrite")
        .save(Files.createTempDirectory("graft-settings-w").toString + "/t")
    val m = failure(write("shards", "abc"))
    assert(m.contains("shards") && m.contains("'abc'"), m)
    val g = failure(write("segmentGranularity", "fortnight"))
    assert(g.contains("segmentGranularity") && g.contains("'fortnight'"), g)
    Seq("segmentGranulrity", "granularity").foreach { k =>
      val u = failure(write(k, "day"))
      assert(u.contains(s"unknown druid write option '$k'"), u)
    }
  }

  test("CLI flag: a bad or unknown flag is named before any work starts") {
    val m = failure(cli.DruidTool.run(Array("dump", table, "--limit", "abc")))
    assert(m.contains("--limit") && m.contains("'abc'"), m)
    val p = failure(cli.DruidServe.run(Array(table, "--port", "abc")))
    assert(p.contains("--port") && p.contains("'abc'"), p)
    val u = failure(cli.DruidTool.run(Array("search", table, "k1", "--bogus")))
    assert(u.contains("unknown search flag '--bogus'"), u)
    val v = failure(cli.DruidTool.run(Array("compact", table, "--target-rows")))
    assert(v.contains("--target-rows") && v.contains("missing value"), v)
    assert(failure(cli.DruidTool.run(Array("nope"))).startsWith("usage:"))
    val f = Settings.flags("compact",
      Seq("--option", "a=b", "--incremental", "--option", "c=d=e"))
    assert(f(Settings.CompactIncremental))
    assert(!Settings.flags("search", Nil)(Settings.SearchIgnoreCase))
    assert(f(Settings.CompactTargetRows) == 5000000L)
    assert(f.all(Settings.CompactOption) == Seq("a" -> "b", "c" -> "d=e"))
    assert(f(Settings.CompactMinFill) == 0.5)
  }

  test("README's Settings section lists exactly the table's rows") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")),
      StandardCharsets.UTF_8)
    val section = readme.split("\n## ").find(_.startsWith("Settings\n"))
      .getOrElse(fail("README has no '## Settings' section"))
    def cells(line: String): Seq[String] =
      line.trim.stripPrefix("|").stripSuffix("|").split(" \\| ").map(_.trim).toSeq
    val documented = section.linesIterator.filter(_.startsWith("| `")).map(cells).toSet
    val table = Settings.rows.map(s => Seq(s"`${s.name}`", s.scope.label,
      s.typeLabel, if (s.default.isEmpty) "unset" else s"`${s.default}`",
      s.doc)).toSet
    val missing = table -- documented
    val stale = documented -- table
    assert(missing.isEmpty && stale.isEmpty,
      "\nrows missing from README:\n" +
        missing.map(_.mkString("| ", " | ", " |")).mkString("\n") +
        "\nREADME rows not in the table:\n" +
        stale.map(_.mkString("| ", " | ", " |")).mkString("\n"))
  }
}
