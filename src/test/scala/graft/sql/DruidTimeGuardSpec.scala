package graft.sql

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One Druid time vocabulary, mechanized. Reads `src/main`, so a second
  * reader of time strings or a second granularity-name table fails here
  * instead of drifting from [[DruidTime]] again:
  *  - only DruidTime parses instants, dates, periods or durations with
  *    java.time;
  *  - only DruidTime lists granularity names: no other line pairs two
  *    names or periods of its table as string literals, and no other
  *    file matches three of them in `case` patterns, whatever their
  *    letter case.
  */
class DruidTimeGuardSpec extends AnyFunSuite {

  /** Every main source but DruidTime's, comments and triple-quoted
    * query texts removed.
    */
  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "DruidTime.scala")
      .map((p: Path) => p.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)^\\s*//.*$", "")
        .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\""))
    finally files.close()
  }

  test("the main sources are where this spec looks") {
    assert(sources.exists(_._1.endsWith("NativeQuery.scala")))
    assert(sources.exists(_._1.endsWith("DruidServe.scala")))
  }

  test("only DruidTime parses time strings with java.time") {
    val parse = """\b(Instant|OffsetDateTime|LocalDate|LocalDateTime|Period|Duration)\.parse\b""".r
    val hits = for ((file, text) <- sources; m <- parse.findAllMatchIn(text))
      yield s"$file: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only DruidTime holds a granularity-name table") {
    // whatever their letter case: Spark's date_trunc units ("HOUR",
    // "DAY") are the same names
    val words = DruidTime.granularityNames.flatMap { case (n, p) => Seq(n, p) }
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val literal = "\"([A-Za-z0-9_]+)\"".r
    val casePattern = """\bcase\s+"([A-Za-z0-9_]+)"""".r
    def known(m: scala.util.matching.Regex.Match): Option[String] =
      Some(m.group(1).toLowerCase(java.util.Locale.ROOT)).filter(words)
    val pairedLines = for {
      (file, text) <- sources
      line <- text.linesIterator
      found = literal.findAllMatchIn(line).flatMap(known).toSet
      if found.size >= 2
    } yield s"$file: ${line.trim}"
    val caseTables = for {
      (file, text) <- sources
      found = casePattern.findAllMatchIn(text).flatMap(known).toSet
      if found.size >= 3
    } yield s"$file: case ${found.toSeq.sorted.mkString(", ")}"
    assert(pairedLines.isEmpty && caseTables.isEmpty,
      (pairedLines ++ caseTables).mkString("\n"))
  }
}
