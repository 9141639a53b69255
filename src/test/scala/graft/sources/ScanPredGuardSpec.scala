package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One predicate list from pushdown to reader, mechanized. Reads the
  * druid sources, so a second per-kind filter field, or a second
  * reader of Spark's V1 filter leaves, fails here instead of regrowing
  * quietly:
  *  - the scan builder, the scan and its input partition each hold
  *    their pushed predicates in one field;
  *  - V1 filter leaves are matched only where they enter the scan
  *    (`ScanPred.of`, which pushFilters and the runtime filter() call)
  *    and in `DruidDelete.timeRange`, whose metadata-only DELETE needs
  *    an exact interval rather than the scan's superset. The segment
  *    test and the bitmap evaluator read [[graft.sources.druid.ScanPred]].
  */
class ScanPredGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala/graft/sources/druid")
    val files = Files.list(root)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .replaceAll("(?s)/\\*.*?\\*/", ""))
      .toMap
    finally files.close()
  }

  /** Constructor parameters and member vals/vars of class `cls`. */
  private def fields(file: String, cls: String): Seq[String] = {
    val text = sources(file)
    val open = s"""(?m)^(?:final )?(?:case )?class $cls\\(""".r
      .findFirstMatchIn(text).getOrElse(fail(s"no class $cls in $file")).end
    val params = Seq.newBuilder[String]
    var depth = 1
    var from = open
    var i = open
    while (depth > 0) {
      text.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' =>
          depth -= 1
          if (depth == 0) params += text.substring(from, i)
        case ',' if depth == 1 =>
          params += text.substring(from, i)
          from = i + 1
        case _ => ()
      }
      i += 1
    }
    val end = text.indexOf("\n}", i)
    val members = """(?m)^  (?:private(?:\[\w+\])? |override )?(?:lazy )?va[lr] ([^=\n]*)""".r
      .findAllMatchIn(text.substring(i, if (end < 0) text.length else end))
      .map(_.group(1))
    (params.result() ++ members).map(_.replaceAll("//[^\n]*", "").trim).filter(_.nonEmpty)
  }

  // a field that carries pushed predicates, by its name or its type
  private val carriesPredicates =
    """(?i)(pred|filter|bound|notnull|isnull|contains|nested|zone|prefix|pattern|timemin|timemax)""".r

  test("the druid sources are where this spec looks") {
    assert(Seq("DruidScan.scala", "ScanPred.scala", "DruidPartitionReader.scala")
      .forall(sources.contains))
  }

  test("builder, scan and partition each hold pushed predicates in one field") {
    for (cls <- Seq("DruidScanBuilder", "DruidScan", "DruidInputPartition")) {
      val carrying = fields("DruidScan.scala", cls)
        .filter(carriesPredicates.findFirstIn(_).isDefined)
      assert(carrying.size == 1, s"$cls: ${carrying.mkString("; ")}")
    }
  }

  test("V1 filter leaves are matched only at the scan's intake") {
    val leaf = ("""\bcase\s+(EqualTo|EqualNullSafe|GreaterThan|GreaterThanOrEqual|""" +
      """LessThan|LessThanOrEqual|In|IsNull|IsNotNull|StringStartsWith|""" +
      """StringEndsWith|StringContains|And|Or|Not|AlwaysTrue|AlwaysFalse)\(""").r
    val member = """(?m)^  (?:[\w\[\]]+ )*def (\w+)""".r
    val allowed = Set("ScanPred.scala" -> "of", "DruidDataSource.scala" -> "timeRange")
    for ((file, text) <- sources; m <- leaf.findAllMatchIn(text)) {
      val owner = member.findAllMatchIn(text.substring(0, m.start)).toSeq
        .lastOption.map(_.group(1)).getOrElse("<top level>")
      assert(allowed(file -> owner), s"$file: `${m.matched}` in $owner")
    }
  }
}
