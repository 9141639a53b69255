package graft
import java.nio.file.{Files, Paths}
import SparkEntry.json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session(verify = true)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selected
    SparkEntry.stage(spark, sfDir, selected.map(_._1).toSet)
    // Failures must be LOUD: a swallowed exception makes the broken
    // query silently vanish from the driver's correctness file (the
    // round-3 failure mode). Record every failure as a _FAILED marker
    // next to where the result parquet would be, plus a summary file,
    // and exit nonzero.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try SparkEntry.oracleWrite(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        Files.writeString(Paths.get(s"$outDir/$name._FAILED"), msg)
      }
    }
    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    val errJson = failures
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
