package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** One request path for the broker, mechanized: every DruidServe
  * endpoint is registered through `route`, every answer is written by
  * `respond`, and the native and sync SQL endpoints share one query
  * lifecycle (`runQuery`) for query control and the result cache.
  * Reads DruidServe.scala, so a second path fails here instead of
  * regrowing quietly.
  */
class RequestPathGuardSpec extends AnyFunSuite {

  private lazy val lines: Vector[String] = {
    val p = Paths.get("src/main/scala/graft/cli/DruidServe.scala")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n", -1).toVector
  }

  /** Line numbers of `def name`'s body: from the def line to the first
    * closing brace at the def's own indentation.
    */
  private def defLines(name: String): Range = {
    val start = lines.indexWhere(_.matches(s"""\\s*(private )?def $name\\b.*"""))
    assert(start >= 0, s"def $name is gone")
    val indent = lines(start).takeWhile(_ == ' ')
    val end = lines.indexWhere(_ == indent + "}", start + 1)
    assert(end > start, s"no closing brace for def $name")
    start to end
  }

  /** Line numbers where `token` occurs. */
  private def uses(token: String): Seq[Int] =
    lines.indices.filter(i => lines(i).contains(token))

  /** Every use of `token` lies in one of `defs`, and each has one. */
  private def onlyIn(token: String, defs: String*): Unit = {
    val at = uses(token)
    val spans = defs.map(d => d -> defLines(d))
    at.foreach(i => assert(spans.exists(_._2.contains(i)),
      s"$token at DruidServe.scala:${i + 1} is outside ${defs.mkString(", ")}"))
    spans.foreach { case (d, span) =>
      assert(at.exists(span.contains), s"$d no longer uses $token")
    }
  }

  test("createContext is called once, in the route helper") {
    assert(uses("createContext(").size == 1)
    onlyIn("createContext(", "route")
  }

  test("only respond writes response headers") {
    onlyIn("sendResponseHeaders", "respond")
  }

  test("query control runs only in the query lifecycle and runStatement") {
    onlyIn("withQueryControl(", "runQuery", "runStatement")
  }

  test("the result cache is read and written only by the query lifecycle") {
    onlyIn("resultCache.synchronized", "runQuery")
  }
}
