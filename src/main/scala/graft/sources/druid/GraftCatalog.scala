package graft.sources.druid

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog over a directory of segment tables
  * (`spark.sql.catalog.<name>=graft.sources.druid.GraftCatalog`,
  * `spark.sql.catalog.<name>.root=/path`): `<name>.t` resolves to the
  * segment table at `<root>/t`. Also a FunctionCatalog serving the
  * `days` partition transform — catalog-resolved tables are what lets
  * Spark resolve the scan's day-keyed KeyGroupedPartitioning, so two
  * day-granularity tables joined on `__time` plan a
  * storage-partitioned join with ZERO exchanges (`SpjSpec`).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with ProcedureCatalog {
  private var catName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = graft.Settings.CatalogRoot.in(options).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
  }
  override def name(): String = catName

  private def pathOf(ident: Identifier): String =
    Paths.get(root, (ident.namespace() :+ ident.name()): _*).toString

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get(root, namespace: _*)
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          DruidTableUtil.discoverSegments(p.toString).nonEmpty)
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    } finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (DruidTableUtil.discoverSegments(p).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new DruidTable(p, null)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "create via df.write.format(\"druid\").save(<root>/<table>)")

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException("alterTable")

  override def dropTable(ident: Identifier): Boolean = {
    val p = Paths.get(pathOf(ident))
    if (!Files.isDirectory(p)) false
    else {
      import java.util.Comparator
      Files.walk(p).sorted(Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    Files.move(Paths.get(pathOf(oldIdent)), Paths.get(pathOf(newIdent)))

  // ---- FunctionCatalog: the partition transforms the scan reports ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftCatalog.transforms.keys
      .map(n => Identifier.of(Array.empty, n)).toArray

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftCatalog.transforms.getOrElse(ident.name(),
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  // ---- ProcedureCatalog: SQL CALL for the maintenance operators ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val found =
      if (ident.namespace().sameElements(Array("system")))
        GraftProcedures.load(root, ident.name())
      else None
    // ROUTINE_NOT_FOUND (sqlState 42883) is the analyzer's standard
    // "no such routine" surface — Spark 4.1 has no dedicated
    // NoSuchProcedureException class, so a bare RuntimeException here
    // would render CALL typos as internal errors instead
    found.getOrElse(throw new org.apache.spark.sql.AnalysisException(
      errorClass = "ROUTINE_NOT_FOUND",
      messageParameters = Map("routineName" ->
        s"`${ident.namespace().mkString(".")}`.`${ident.name()}`")))
  }
}

object GraftCatalog {
  /** Buckets-since-epoch of a timestamp (UTC, floor) — the evaluable
    * forms of the `hours`/`days`/`months` partition transforms the scan
    * reports, matching the bucket key it attaches to each split
    * (DruidScan.bucketKey over millis; these evaluate over micros).
    */
  private[druid] val transforms: Map[String, UnboundFunction] = Map(
    "hours" -> new BucketFunction("hours",
      us => Math.floorDiv(us, 3600000000L).toInt),
    "days" -> new BucketFunction("days",
      us => Math.floorDiv(us, 86400000000L).toInt),
    "months" -> new BucketFunction("months", { us =>
      val d = java.time.Instant.ofEpochMilli(Math.floorDiv(us, 1000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
    }))

  final class BucketFunction(fname: String, key: Long => Int)
      extends UnboundFunction {
    override def name(): String = fname
    override def description(): String =
      s"$fname(timestamp): UTC $fname since epoch (floor)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        (inputType.fields(0).dataType == TimestampType ||
          inputType.fields(0).dataType == TimestampNTZType),
        s"$fname() expects one timestamp argument, got $inputType")
      new BucketBound(fname, key)
    }
  }

  final class BucketBound(fname: String, key: Long => Int)
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(TimestampType)
    override def resultType(): DataType = IntegerType
    override def name(): String = fname
    override def canonicalName(): String = s"graft.$fname"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      key(input.getLong(0))
  }
}
