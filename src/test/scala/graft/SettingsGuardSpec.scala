package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One settings table, mechanized: system properties, env vars, option
  * maps and CLI flags are read only in Settings.scala. Reads the main
  * sources, so a second way to read a setting fails here instead of
  * regrowing quietly.
  */
class SettingsGuardSpec extends AnyFunSuite {

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
    assert(sources.keys.exists(_.endsWith("Settings.scala")))
  }

  test("system properties and env vars are read only in Settings") {
    Seq("""\bsys\.env\b""", """\bsys\.props\b""", """System\.getenv""",
        """System\.getProperty""").foreach { p =>
      assert(filesMatching(p) subsetOf Set("Settings.scala"), p)
    }
  }

  test("option maps are read only in Settings") {
    Seq("""options\(\)\.get\(""", """options\.get\(""", """getBoolean\("""",
        """getInt\("""", """getLong\("""").foreach { p =>
      assert(filesMatching(p) subsetOf Set("Settings.scala"), p)
    }
  }

  test("CLI flags are parsed only through the settings rows") {
    assert(filesMatching("""case\s+"--""").isEmpty)
  }
}
