package graft.plans

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDateTime}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EqualNullSafe, EqualTo, Expression, In, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** BoundLiterals changes how a literal reaches generated code, never
  * which rows a filter keeps: the same filters over a druid table (the
  * rule binds its literals) and over a parquet copy of the same rows
  * (the rule leaves file sources alone) keep the same rows, for every
  * bound type at its edges, under whole-stage codegen and interpreted.
  */
class BoundLiteralsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private val times = Seq("1900-03-01T00:00:00Z", "1969-12-31T23:59:59.999Z",
    "1970-01-01T00:00:00Z", "2024-02-29T12:30:00Z", "2262-04-11T00:00:00Z",
    "9999-12-31T23:59:59Z").map(ts)
  private val longs = Seq[java.lang.Long](Long.MinValue, -2147483648L, -32768L, -129L, -128L, -1L,
    0L, 1L, 127L, 32767L, 2147483647L, 2147483648L, Long.MaxValue, null)
  private val doubles = Seq[java.lang.Double](Double.NaN, Double.NegativeInfinity,
    Double.PositiveInfinity, -0.0, 0.0, Double.MinPositiveValue, -Double.MaxValue,
    Double.MaxValue, 1.5, null)
  private val floats = Seq[java.lang.Float](Float.NaN, Float.NegativeInfinity,
    Float.PositiveInfinity, -0.0f, 0.0f, Float.MinPositiveValue, -Float.MaxValue,
    Float.MaxValue, 1.5f, null)

  // row i holds value i mod n of each column's edge list: 60 rows hold
  // every edge value, each beside varied values of the other columns
  private lazy val tables: (DataFrame, DataFrame) = {
    val rows = (0 until 60).map(i => Row(times(i % times.size), longs(i % longs.size),
      doubles(i % doubles.size), floats(i % floats.size), s"s${i % 4}"))
    val schema = StructType(Seq(StructField("__time", TimestampType, nullable = false),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-boundlit").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.format("druid").mode("overwrite").save(s"$tmp/druid")
    val druid = spark.read.format("druid").load(s"$tmp/druid")
    druid.write.mode("overwrite").parquet(s"$tmp/parquet")
    (druid, spark.read.parquet(s"$tmp/parquet"))
  }

  private val l = col("l")
  private val d = col("d")
  private val f = col("f")
  private val t = col("__time")
  // the optimizer unwraps a bare cast of __time compared with a date or
  // timestamp_ntz literal into a timestamp comparison; these stay typed
  private val date = date_add(t.cast("date"), 0)
  private val ntzTime = t.cast("timestamp_ntz") + expr("INTERVAL '0' SECOND")
  private def day(s: String) = Date.valueOf(s)
  private def ntz(s: String) = LocalDateTime.parse(s)

  // comparisons and INs of every bindable type at its edges
  // (try_cast: a long out of the narrow type's range reads null)
  private val filters: Seq[Column] = Seq(
    l.try_cast("tinyint") >= lit(Byte.MinValue), l.try_cast("tinyint") === lit(Byte.MaxValue),
    l.try_cast("tinyint").isin(lit(0.toByte), lit(-1.toByte)),
    l.try_cast("smallint") < lit(Short.MaxValue), l.try_cast("smallint") <=> lit(Short.MinValue),
    l.try_cast("int") === lit(Int.MinValue), l.try_cast("int") > lit(-1),
    l.try_cast("int").isin(lit(Int.MaxValue), lit(0), lit(1)),
    l === lit(Long.MaxValue), l < lit(Long.MinValue + 1), l <=> lit(0L),
    l >= lit(2147483648L) || l <= lit(-129L), l.isin(lit(Long.MinValue), lit(127L)),
    not(l =!= lit(-1L)),
    d === lit(Double.NaN), d >= lit(Double.NaN), d < lit(Double.NaN),
    d > lit(Double.NegativeInfinity), d < lit(Double.PositiveInfinity),
    d === lit(-0.0), d <=> lit(0.0), d <= lit(-0.0), d > lit(-0.0),
    d >= lit(Double.MaxValue), d > lit(-Double.MaxValue), d === lit(Double.MinPositiveValue),
    d.isin(lit(Double.NaN), lit(-0.0), lit(1.5)),
    f === lit(Float.NaN), f >= lit(Float.NaN), f > lit(Float.NegativeInfinity),
    f < lit(Float.PositiveInfinity), f === lit(-0.0f), f <= lit(0.0f),
    f >= lit(Float.MaxValue), f.isin(lit(Float.NaN), lit(1.5f), lit(-0.0f)),
    date >= lit(day("1969-12-31")), date < lit(day("1900-03-02")),
    date === lit(day("9999-12-31")), date.isin(lit(day("2024-02-29")), lit(day("1970-01-01"))),
    t >= lit(ts("1969-12-31T23:59:59.999Z")), t < lit(ts("1900-03-01T00:00:00.001Z")),
    t === lit(ts("2262-04-11T00:00:00Z")), t > lit(ts("2262-04-11T00:00:00Z")),
    t.isin(lit(ts("1970-01-01T00:00:00Z")), lit(ts("9999-12-31T23:59:59Z"))),
    t >= lit(ts("1969-01-01T00:00:00Z")) && t < lit(ts("2300-01-01T00:00:00Z")),
    ntzTime > lit(ntz("1969-12-31T23:59:59")), ntzTime === lit(ntz("2024-02-29T12:30:00")),
    ntzTime.isin(lit(ntz("1900-03-01T00:00:00")), lit(ntz("2000-01-01T00:00"))))

  private def comparisonOperands(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect { case fl: Filter => fl.condition }
      .flatMap(_.collect {
        case c: BinaryComparison => c.children
        case in: In              => in.children
      }.flatten)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToLongBits(x).toString
      case x: Float  => java.lang.Float.floatToIntBits(x).toString
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  private def parity(): Unit = {
    val (druid, parquet) = tables
    val boundTypes = filters.flatMap { c =>
      val (a, b) = (druid.where(c), parquet.where(c))
      val bound = comparisonOperands(a).collect { case x: BoundLiteral => x.dataType }
      assert(bound.nonEmpty, s"not bound: $c")
      assert(!comparisonOperands(b).exists(_.isInstanceOf[BoundLiteral]), s"bound: $c")
      assert(rows(a) == rows(b), s"rows differ for $c")
      bound
    }
    assert(boundTypes.toSet == BoundLiterals.Bindable)
  }

  test("a druid table and its parquet copy keep the same rows for every bound type") {
    parity()
  }

  test("the same rows when every filter is evaluated without generated code") {
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try parity()
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("null and string literals stay Literal") {
    // the optimizer folds a null comparison away before the rule runs,
    // so the rule gets a hand-built condition over a druid scan
    val (druid, _) = tables
    val scanFilter = druid.where(l > 0).queryExecution.optimizedPlan.collectFirst {
      case fl @ Filter(_, _: DataSourceV2ScanRelation) => fl
    }.get
    def attr(n: String) = scanFilter.child.output.find(_.name == n).get
    val cond = Or(EqualTo(attr("s"), Literal("s1")),
      Or(EqualNullSafe(attr("l"), Literal(null, LongType)),
        In(attr("l"), Seq(Literal(3L), Literal(null, LongType)))))
    val out = BoundLiterals(scanFilter.copy(condition = cond)).asInstanceOf[Filter]
    assert(out.condition == Or(EqualTo(attr("s"), Literal("s1")),
      Or(EqualNullSafe(attr("l"), Literal(null, LongType)),
        In(attr("l"), Seq(BoundLiteral(3L, LongType), Literal(null, LongType))))))
  }

  test("a bound literal prints, renders to SQL and evaluates as its Literal") {
    val values: Seq[(Any, DataType)] = Seq(Byte.MinValue -> ByteType,
      Short.MaxValue -> ShortType, Int.MinValue -> IntegerType, Long.MaxValue -> LongType,
      Float.NaN -> FloatType, Float.NegativeInfinity -> FloatType, -0.0f -> FloatType,
      Double.NaN -> DoubleType, Double.PositiveInfinity -> DoubleType, -0.0 -> DoubleType,
      Double.MinPositiveValue -> DoubleType, -25567 -> DateType, 2932896 -> DateType,
      -2208988800000000L -> TimestampType, 253402300799000000L -> TimestampType,
      -1L -> TimestampNTZType, 9214646400000000L -> TimestampNTZType)
    values.foreach { case (v, tpe) =>
      val (b, lit) = (BoundLiteral(v, tpe), Literal(v, tpe))
      assert(b.toString == lit.toString && b.sql == lit.sql, s"$v: $tpe")
      assert(b.eval().equals(lit.eval()), s"$v: $tpe")
      assert(!b.foldable && b == BoundLiteral(v, tpe))
    }
  }
}
