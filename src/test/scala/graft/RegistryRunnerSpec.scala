package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Staging

/** The registry runner that Bench and Verify share (`SparkEntry`). */
class RegistryRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("json strings round-trip through Jackson") {
    val v = "a \"quoted\" C:\\path\twith tab\nnewline\r\u0001 and é"
    val back = new ObjectMapper().readValue(SparkEntry.json(v), classOf[String])
    assert(back === v)
  }

  test("the staging step writes every staged input a registry query reads") {
    // a scale dir no other spec stages, so every memo key under it is
    // new to this JVM: the staging step must write each one, and
    // building the queries afterwards must find them all written
    val src = Paths.get(Settings.SfDir.default).resolveSibling("sf0.001")
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft_runner_spec", "sf0.001")
    copyTree(src, dir)
    val tag = "graft_runner_spec"
    def keys = Staging.keys.filter(_.contains(tag))
    assert(keys.isEmpty, "another spec staged this scale dir")
    SparkEntry.stage(spark, dir.toString, SparkEntry.queries.keySet)
    val staged = keys
    assert(staged.nonEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      fn(spark, dir.toString)
    }
    val late = keys -- staged
    assert(late.isEmpty, s"staged inside a query, not by the staging step: $late")
  }

  /** Replace `to` with a copy of the files under `from`. */
  private def copyTree(from: Path, to: Path): Unit = {
    if (Files.exists(to)) {
      val old = Files.walk(to)
      try old.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally old.close()
    }
    val files = Files.walk(from)
    try files.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    }
    finally files.close()
  }
}
