package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One function registry, mechanized: graft's SQL functions are the
  * rows of GraftExtensions.functions, reach a session only through the
  * extension or GraftExtensions.install, and optimizer rules are
  * appended only through Registration's once-per-session guard. Reads
  * the main sources, so a second registration path fails here instead
  * of regrowing quietly.
  */
class FunctionRegistryGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toMap
    finally files.close()
  }

  /** Source files (by file name) where `pattern` matches. */
  private def filesMatching(pattern: String): Set[String] = {
    val re = pattern.r
    sources.collect {
      case (path, text) if re.findFirstIn(text).isDefined =>
        Paths.get(path).getFileName.toString
    }.toSet
  }

  test("the main sources are where this spec looks") {
    assert(sources.keys.exists(_.endsWith("GraftExtensions.scala")))
  }

  test("function-registry writes happen only in GraftExtensions") {
    assert(filesMatching("createOrReplaceTempFunction") subsetOf
      Set("GraftExtensions.scala"))
    // DruidServe copies a parent session's own registrations into the
    // broker's child session; every graft function comes from the table
    assert(filesMatching("""\bregisterFunction\(""") subsetOf
      Set("GraftExtensions.scala", "DruidServe.scala"))
    assert(filesMatching("""udf\.register""").isEmpty)
  }

  test("no per-object register(spark) method outside the compat forwarder") {
    assert(filesMatching("""def register\(spark: SparkSession\)""") ==
      Set("DruidSqlCompat.scala"))
  }

  test("optimizer rules are appended only through the shared guard") {
    assert(filesMatching("""extraOptimizations\s*(=|:\+|\+\+)""") ==
      Set("Registration.scala"))
    assert(filesMatching("""MvBitmapRewrite\.arm\b""").isEmpty)
  }
}
