package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{HllSketchAgg, MaxBy, MinBy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Session-registered LOOKUP tables — Druid's `LOOKUP(expr, name)` /
  * native `registeredLookup` extraction. A real Druid cluster broadcasts
  * lookup maps to every node; here small maps compile INLINE into the
  * plan as a codegen'd `CASE key WHEN ...` switch, and larger maps ride
  * the task closure (serialized once per executor — the same broadcast
  * shape, no shuffle, no join).
  */
object DruidLookups {
  private val maps =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  // bumped on every mutation: result caches keyed on table state must
  // also observe lookup changes (a lookup edit changes answers without
  // touching any segment)
  private val ver = new java.util.concurrent.atomic.AtomicLong()
  def version: Long = ver.get()

  def register(name: String, map: Map[String, String]): Unit = {
    maps.put(name, map); ver.incrementAndGet()
  }
  def unregister(name: String): Unit = {
    maps.remove(name); ver.incrementAndGet()
  }
  def get(name: String): Option[Map[String, String]] = Option(maps.get(name))
  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    maps.keySet().asScala.toSeq
  }

  /** Entries at or below this size inline into the plan. */
  private val InlineThreshold = 64

  /** The mapping expression: null for unmapped keys (callers layer
    * retain/replace semantics with Coalesce).
    */
  def lookupExpr(key: Expression, name: String): Expression =
    get(name) match {
      case None =>
        throw new IllegalArgumentException(
          s"lookup '$name' is not registered (DruidLookups.register)")
      case Some(m) if m.isEmpty => Literal(null, StringType)
      case Some(m) if m.size <= InlineThreshold =>
        // deterministic branch order for plan stability
        val branches = m.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(Literal(k), Literal(v))
        }
        CaseKeyWhen(key, branches)
      case Some(m) =>
        DruidSqlCompat.udfExpr(s"lookup_$name", StringType,
          (s: String) => if (s == null) null else m.get(s).orNull, Seq(key))
    }

  /** Column-level twin of [[lookupExpr]] for DataFrame-side callers
    * (the native-query compiler): small maps inline as a literal map
    * probe, larger ones ride the task closure as a UDF — either way
    * partition-local, no shuffle.
    */
  def lookupColumn(key: org.apache.spark.sql.Column,
                   name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{element_at, lit, map, udf}
    DruidLookups.get(name) match {
      case None =>
        throw new IllegalArgumentException(
          s"lookup '$name' is not registered (DruidLookups.register)")
      case Some(m) if m.isEmpty => lit(null).cast("string")
      case Some(m) if m.size <= InlineThreshold =>
        val entries = m.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        element_at(map(entries: _*), key)
      case Some(m) =>
        udf((s: String) => if (s == null) null else m.get(s).orNull)
          .apply(key)
    }
  }
}

/** The rest of the Druid SQL compatibility surface (beyond
  * [[DruidTime]] / [[DruidMv]]): grouping-time aggregators
  * (EARLIEST/LATEST families), DataSketches aggregator/post-aggregator
  * names (APPROX_COUNT_DISTINCT_DS_HLL, DS_THETA, THETA_SKETCH_*,
  * APPROX_QUANTILE_DS, ...), LOOKUP, and SAFE_DIVIDE — so a Druid
  * user's SQL runs on the engine unchanged. Everything resolves to
  * native Catalyst aggregates/expressions; the only closures are the
  * few-rows-per-group sketch unpack shims (the same post-aggregate
  * pattern the existing ds_theta_* functions use).
  */
object DruidSqlCompat {

  private def litInt(e: Expression, what: String, default: Int): Int =
    e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType)   => v.toInt
      case l: Literal if l.foldable && l.value != null =>
        l.value.toString.toDouble.toInt
      case other =>
        throw new IllegalArgumentException(s"$what must be an int literal, got $other")
    }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  /** A deterministic ScalaUDF over catalyst children — the
    * FunctionRegistry-friendly form of `functions.udf` (no Column
    * wrapping, legacy type converters for the simple
    * binary/string/numeric signatures used here).
    */
  private[sql] def udfExpr(name: String, dt: DataType, f: AnyRef,
                           children: Seq[Expression]): Expression =
    ScalaUDF(f, dt, children, Nil, None, Some(name),
      nullable = true, udfDeterministic = true)

  /** EARLIEST(expr[, maxBytes]) — implicit `__time` ordering, like
    * Druid; the maxBytes argument (string truncation budget) is
    * accepted and ignored.
    */
  private val earliest: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "earliest(expr[, maxBytes])")
    MinBy(e.head, UnresolvedAttribute("__time"))
  }
  private val latest: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "latest(expr[, maxBytes])")
    MaxBy(e.head, UnresolvedAttribute("__time"))
  }
  private val earliestBy: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3, "earliest_by(expr, ts[, maxBytes])")
    MinBy(e(0), e(1))
  }
  private val latestBy: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3, "latest_by(expr, ts[, maxBytes])")
    MaxBy(e(0), e(1))
  }

  /** SAFE_DIVIDE: null (never error) on zero/null denominator. */
  private val safeDivide: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "safe_divide(x, y) takes 2 args")
    Divide(e(0), new NullIf(e(1), Literal(0)))
  }

  private val lookup: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      "lookup(expr, lookupName[, replaceMissingValueWith])")
    val mapped = DruidLookups.lookupExpr(e(0), litString(e(1), "lookup name"))
    e.lift(2).fold(mapped)(repl => Coalesce(Seq(mapped, repl)))
  }

  // ---- Druid SQL scalar functions Spark spells differently --------------
  // All compile to native Catalyst expressions (codegen'd), no UDFs.

  private val divFn: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "div(x, y) takes 2 args")
    IntegralDivide(e(0), e(1))
  }
  private def bitwise2(name: String,
                       mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { e =>
    require(e.length == 2, s"$name(x, y) takes 2 args")
    mk(Cast(e(0), LongType), Cast(e(1), LongType))
  }
  private val containsString: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "contains_string(haystack, needle)")
    Contains(Cast(e(0), StringType), Cast(e(1), StringType))
  }
  private val icontainsString: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "icontains_string(haystack, needle)")
    Contains(Lower(Cast(e(0), StringType)), Lower(Cast(e(1), StringType)))
  }
  private val strpos: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "strpos(haystack, needle)")
    // Druid STRPOS: 1-based index, 0 when absent — exactly instr
    StringInstr(Cast(e(0), StringType), Cast(e(1), StringType))
  }
  private val textcat: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "textcat(a, b) takes 2 args")
    Concat(Seq(Cast(e(0), StringType), Cast(e(1), StringType)))
  }
  private val stringFormat: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty, "string_format(pattern[, args...])")
    FormatString(Cast(e.head, StringType) +: e.tail: _*)
  }
  // ---- IPv4 family (network-analytics Druid SQL) ------------------------

  /** Dotted-quad string → unsigned-32 long (null for malformed);
    * numeric input passes through IF it is a representable unsigned-32
    * address — Druid returns null for out-of-range numerics rather
    * than wrapping them, so the passthrough is range-gated. Pure
    * Catalyst: octet regex gate + shift-free arithmetic.
    */
  private def ipv4ToLong(e: Expression): Expression = {
    val s = Cast(e, StringType)
    val octet = "(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
    val valid = RLike(s, Literal(s"^($octet\\.){3}$octet$$"))
    val parts = new StringSplit(s, Literal("\\."), Literal(-1))
    def oct(i: Int): Expression =
      Cast(GetArrayItem(parts, Literal(i)), LongType)
    val fromDots = Add(
      Add(Multiply(oct(0), Literal(16777216L)),
        Multiply(oct(1), Literal(65536L))),
      Add(Multiply(oct(2), Literal(256L)), oct(3)))
    If(valid, fromDots, unsigned32Gate(Cast(e, LongType, None, EvalMode.TRY)))
  }

  /** `n` when in [0, 2^32-1], else null — Druid's domain for a long
    * that claims to be an IPv4 address.
    */
  private def unsigned32Gate(n: Expression): Expression =
    If(And(GreaterThanOrEqual(n, Literal(0L)),
           LessThanOrEqual(n, Literal(4294967295L))),
      n, Literal(null, LongType))

  private val ipv4Parse: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ipv4_parse(address)")
    ipv4ToLong(e.head)
  }

  private val ipv4Stringify: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ipv4_stringify(long)")
    // the range gate keeps 2^32 (or a negative) from masking into a
    // plausible-looking dotted quad — Druid answers null there
    val n = unsigned32Gate(Cast(e.head, LongType, None, EvalMode.TRY))
    def byteAt(shift: Int): Expression = Cast(
      BitwiseAnd(ShiftRight(n, Literal(shift)), Literal(255L)), StringType)
    Concat(Seq(byteAt(24), Literal("."), byteAt(16), Literal("."),
      byteAt(8), Literal("."), byteAt(0)))
  }

  private val ipv4Match: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "ipv4_match(address, subnet)")
    // subnet "a.b.c.d/prefix": compare the top `prefix` bits. The
    // prefix is gated to [0, 32] — Java's shift masking would turn
    // /33 into a shift by 63 and silently match almost everything —
    // and the whole comparison coalesces to false, Druid's answer for
    // malformed addresses / subnets (never null, never a wrong match)
    val sub = Cast(e(1), StringType)
    val slash = new StringSplit(sub, Literal("/"), Literal(-1))
    val net = ipv4ToLong(GetArrayItem(slash, Literal(0)))
    // failOnError=false: a subnet without '/' has no element 1 — that
    // must yield null (→ false below), not an ANSI index error
    val prefix = Cast(GetArrayItem(slash, Literal(1), failOnError = false),
      IntegerType, None, EvalMode.TRY)
    val prefixOk = And(GreaterThanOrEqual(prefix, Literal(0)),
      LessThanOrEqual(prefix, Literal(32)))
    val shift = Subtract(Literal(32), prefix)
    val cmp = EqualTo(ShiftRight(ipv4ToLong(e.head), shift),
      ShiftRight(net, shift))
    Coalesce(Seq(If(prefixOk, cmp, Literal(null, BooleanType)),
      Literal(false)))
  }

  /** APPROX_QUANTILE — Druid's approximate-histogram quantile (the
    * pre-DataSketches family many dashboards still emit). Spark's
    * ApproximatePercentile is the same estimate-a-quantile contract;
    * the optional third argument (Druid: resolution = histogram
    * centroid count, default 50) lands in a DIFFERENT accuracy domain
    * than ApproximatePercentile's knob (max rank error 1/accuracy),
    * so it is scaled (×200: Druid's default 50 maps onto Spark's
    * default 10000) and floored at the Spark default — a client
    * passing Druid's own default must not get ~2% rank error —
    * then capped to bound the aggregation buffer.
    */
  private val approxQuantile: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      "approx_quantile(expr, probability[, resolution])")
    val accuracy = e.lift(2) match {
      case None => 10000
      case Some(r) =>
        val res = litInt(r, "approx_quantile resolution", 50)
        require(res > 0, s"approx_quantile resolution must be positive: $res")
        // long arithmetic: a huge resolution must clamp to the CAP,
        // not overflow Int and silently land on the floor
        math.min(1000000L, math.max(10000L, res.toLong * 200L)).toInt
    }
    new org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile(
      Cast(e(0), DoubleType), Cast(e(1), DoubleType), Literal(accuracy))
  }

  private val parseLong: Seq[Expression] => Expression = { e =>
    require(e.length >= 1 && e.length <= 2, "parse_long(string[, radix])")
    e.lift(1) match {
      case None => Cast(e.head, LongType, None, EvalMode.TRY)
      case Some(radixE) =>
        // Druid's Long.parseLong(s, radix) semantics. conv() alone is
        // wrong twice over: it treats '-' inputs as UNSIGNED 64-bit
        // wraparound, and silently yields 0 for garbage — so gate on a
        // radix-exact digit regex and handle the sign explicitly.
        // (One corner stays null: -2^63 itself, whose magnitude
        // overflows the signed long before negation.)
        val radix = litInt(radixE, "parse_long radix", 10)
        require(radix >= 2 && radix <= 36, "parse_long radix must be in [2, 36]")
        val digits = (('0' to '9').take(math.min(radix, 10)) ++
          ('a' to 'z').take(math.max(0, radix - 10))).mkString
        val s = Lower(Cast(e.head, StringType))
        val valid = RLike(s, Literal("^-?[" + digits + "]+$"))
        val mag = Cast(
          Conv(RegExpReplace(s, Literal("^-"), Literal("")),
            Literal(radix), Literal(10)),
          LongType, None, EvalMode.TRY)
        If(valid, If(StartsWith(s, Literal("-")), UnaryMinus(mag), mag),
          Literal(null, LongType))
    }
  }

  // ---- DataSketches aggregator names ------------------------------------

  private val dsHll: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "ds_hll(expr[, lgK])")
    HllSketchAgg(e.head, e.lift(1).getOrElse(Literal(12)))
  }

  private val approxCountDistinctDsHll: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2,
      "approx_count_distinct_ds_hll(expr[, lgK])")
    HllSketchEstimate(
      HllSketchAgg(e.head, e.lift(1).getOrElse(Literal(12)))
        .toAggregateExpression())
  }

  private val dsTheta: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "ds_theta(expr[, size])")
    ThetaSketchAgg(e.head,
      e.lift(1).map(litInt(_, "ds_theta size", 4096)).getOrElse(4096))
  }

  private val approxCountDistinctDsTheta: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2,
      "approx_count_distinct_ds_theta(expr[, size])")
    val agg = ThetaSketchAgg(e.head,
      e.lift(1).map(litInt(_, "size", 4096)).getOrElse(4096))
      .toAggregateExpression()
    udfExpr("theta_estimate", LongType,
      (b: Array[Byte]) => if (b == null) 0L else DsTheta.estimate(b), Seq(agg))
  }

  private val thetaSketchEstimate: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "theta_sketch_estimate(sketch)")
    udfExpr("theta_sketch_estimate", DoubleType,
      (b: Array[Byte]) => DsTheta.estimateDouble(b), Seq(e.head))
  }
  private def binBinShim(name: String, f: (Array[Byte], Array[Byte]) => Array[Byte])
      : Seq[Expression] => Expression = { e =>
    require(e.length == 2, s"$name(sketch, sketch) takes 2 args")
    udfExpr(name, BinaryType, f, Seq(e(0), e(1)))
  }

  private val dsQuantilesSketch: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "ds_quantiles_sketch(expr[, k])")
    QuantilesSketchAgg(e.head,
      e.lift(1).map(litInt(_, "ds_quantiles_sketch k", 128)).getOrElse(128))
  }

  // ---- DataSketches Frequent-Items (heavy hitters) ----------------------

  private val dsFreq: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "ds_freq(expr[, maxMapSize])")
    FreqItemsSketchAgg(e.head,
      e.lift(1).map(litInt(_, "ds_freq maxMapSize", 1024)).getOrElse(1024))
  }

  private val freqTopKType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est", LongType))))

  private val dsFreqTopK: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "ds_freq_topk(sketch, k)")
    udfExpr("ds_freq_topk", freqTopKType,
      (b: Array[Byte], k: Int) => DsFreq.topK(b, k),
      Seq(e.head, Cast(e(1), IntegerType)))
  }

  private val dsFreqEstimate: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "ds_freq_estimate(sketch, item)")
    udfExpr("ds_freq_estimate", LongType,
      (b: Array[Byte], s: String) => DsFreq.estimate(b, s),
      Seq(e.head, Cast(e(1), StringType)))
  }

  private val dsFreqMaxError: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ds_freq_max_error(sketch)")
    udfExpr("ds_freq_max_error", LongType,
      (b: Array[Byte]) => DsFreq.maxError(b), Seq(e.head))
  }

  // ---- DataSketches Tuple (arrayOfDoubles — Druid's
  //      arrayOfDoublesSketch extension) ---------------------------------

  private val dsTuple: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      "ds_tuple(key, metrics_array[, nominalEntries])")
    TupleSketchAgg(e.head, Cast(e(1), ArrayType(DoubleType)),
      e.lift(2).map(litInt(_, "ds_tuple nominalEntries", 16384))
        .getOrElse(16384))
  }

  private val dsTupleMerge: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2,
      "ds_tuple_merge(sketch[, nominalEntries])")
    TupleUnionAgg(e.head,
      e.lift(1).map(litInt(_, "ds_tuple_merge nominalEntries", 16384))
        .getOrElse(16384))
  }

  private val dsTupleEstimate: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ds_tuple_estimate(sketch)")
    udfExpr("ds_tuple_estimate", DoubleType,
      (b: Array[Byte]) => DsTuple.estimate(b), Seq(e.head))
  }

  private val dsTupleMetricsSum: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ds_tuple_metrics_sum(sketch)")
    udfExpr("ds_tuple_metrics_sum", ArrayType(DoubleType),
      (b: Array[Byte]) => DsTuple.metricsSum(b), Seq(e.head))
  }

  private val dsTupleN: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "ds_tuple_n(sketch)")
    udfExpr("ds_tuple_n", LongType,
      (b: Array[Byte]) => DsTuple.numEntries(b), Seq(e.head))
  }

  // ---- DataSketches t-digest (Druid's tDigestSketch extension) ---------

  private val tdigestAgg: Seq[Expression] => Expression = { e =>
    require(e.nonEmpty && e.length <= 2, "tdigest_agg(expr[, compression])")
    TDigestAgg(e.head,
      e.lift(1).map(litInt(_, "tdigest compression", 100)).getOrElse(100))
  }

  private val tdigestQuantile: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "tdigest_sketch_quantile(sketch, fraction)")
    udfExpr("tdigest_sketch_quantile", DoubleType,
      (b: Array[Byte], q: Double) => DsTDigest.quantile(b, q),
      Seq(e.head, Cast(e(1), DoubleType)))
  }

  private val tdigestRank: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "tdigest_rank(sketch, value)")
    udfExpr("tdigest_rank", DoubleType,
      (b: Array[Byte], v: Double) => DsTDigest.rank(b, v),
      Seq(e.head, Cast(e(1), DoubleType)))
  }

  private val tdigestTotalWeight: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "tdigest_total_weight(sketch)")
    udfExpr("tdigest_total_weight", LongType,
      (b: Array[Byte]) => DsTDigest.totalWeight(b), Seq(e.head))
  }

  /** Druid SQL TDIGEST_QUANTILE: an AGGREGATE over raw values (or
    * blobs — TDigestAgg's child dispatch) that reads one quantile.
    */
  private val tdigestQuantileSql: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      "tdigest_quantile(expr, fraction[, compression])")
    val agg = TDigestAgg(e.head,
      e.lift(2).map(litInt(_, "tdigest compression", 100)).getOrElse(100))
      .toAggregateExpression()
    udfExpr("tdigest_sketch_quantile", DoubleType,
      (b: Array[Byte], q: Double) => DsTDigest.quantile(b, q),
      Seq(agg, Cast(e(1), DoubleType)))
  }

  /** Druid SQL DS_TUPLE_DOUBLES: key + metric expressions with an
    * optional trailing integer-literal nominalEntries — Druid's own
    * trailing-literal overload rule.
    */
  private val dsTupleDoubles: Seq[Expression] => Expression = { e =>
    require(e.length >= 2,
      "ds_tuple_doubles(key, m1[, m2, ...][, nominalEntries])")
    val (args, nom) = e.last match {
      case Literal(v: Int, IntegerType) if e.length >= 3 =>
        (e.dropRight(1), v)
      case Literal(v: Long, LongType) if e.length >= 3 =>
        (e.dropRight(1), v.toInt)
      case _ => (e, 16384)
    }
    val metrics = args.tail.map(m => Cast(m, DoubleType))
    TupleSketchAgg(args.head, CreateArray(metrics), nom)
  }

  private def tupleSetOp(name: String,
                         f: (Array[Byte], Array[Byte], Int) => Array[Byte])
      : Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      s"$name(sketch, sketch[, nominalEntries])")
    val nom = e.lift(2).map(litInt(_, s"$name nominalEntries", 16384))
      .getOrElse(16384)
    udfExpr(name, BinaryType,
      (a: Array[Byte], b: Array[Byte]) => f(a, b, nom), Seq(e(0), e(1)))
  }

  private val approxQuantileDs: Seq[Expression] => Expression = { e =>
    require(e.length >= 2 && e.length <= 3,
      "approx_quantile_ds(expr, prob[, k])")
    val agg = QuantilesSketchAgg(e.head,
      e.lift(2).map(litInt(_, "k", 128)).getOrElse(128))
      .toAggregateExpression()
    udfExpr("ds_get_quantile", DoubleType,
      (b: Array[Byte], q: Double) => DsQuantiles.quantile(b, q),
      Seq(agg, Cast(e(1), DoubleType)))
  }

  private val dsGetQuantile: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "ds_get_quantile(sketch, prob)")
    udfExpr("ds_get_quantile", DoubleType,
      (b: Array[Byte], q: Double) => DsQuantiles.quantile(b, q),
      Seq(e(0), Cast(e(1), DoubleType)))
  }

  // ---- Druid SQL JSON function family (DsJson; nested columns read
  //      back as JSON text, so these operate on the string surface;
  //      RETURNING clauses are spelled as an outer CAST) ----

  private val jsonValueFn: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "json_value(expr, path)")
    udfExpr("json_value", StringType,
      (t: String, p: String) => DsJson.jsonValue(t, p),
      Seq(Cast(e.head, StringType), Cast(e(1), StringType)))
  }
  private val jsonQueryFn: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "json_query(expr, path)")
    udfExpr("json_query", StringType,
      (t: String, p: String) => DsJson.jsonQuery(t, p),
      Seq(Cast(e.head, StringType), Cast(e(1), StringType)))
  }
  private val jsonKeysFn: Seq[Expression] => Expression = { e =>
    require(e.length == 2, "json_keys(expr, path)")
    udfExpr("json_keys", ArrayType(StringType),
      (t: String, p: String) => DsJson.jsonKeys(t, p),
      Seq(Cast(e.head, StringType), Cast(e(1), StringType)))
  }
  private val jsonPathsFn: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "json_paths(expr)")
    udfExpr("json_paths", ArrayType(StringType),
      (t: String) => DsJson.jsonPaths(t), Seq(Cast(e.head, StringType)))
  }
  private val parseJsonFn: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "parse_json(expr)")
    udfExpr("parse_json", StringType,
      (t: String) => DsJson.parseJson(t), Seq(Cast(e.head, StringType)))
  }
  private val tryParseJsonFn: Seq[Expression] => Expression = { e =>
    require(e.length == 1, "try_parse_json(expr)")
    udfExpr("try_parse_json", StringType,
      (t: String) => DsJson.tryParseJson(t), Seq(Cast(e.head, StringType)))
  }

  val functions0: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("json_value",
      "json_value(expr, path) - Druid JSON_VALUE: scalar text at path, NULL for containers (RETURNING = outer CAST)",
      jsonValueFn),
    ("json_query",
      "json_query(expr, path) - Druid JSON_QUERY: JSON serialization of the node at path",
      jsonQueryFn),
    ("json_keys",
      "json_keys(expr, path) - Druid JSON_KEYS: keys of the object at path",
      jsonKeysFn),
    ("json_paths",
      "json_paths(expr) - Druid JSON_PATHS: all leaf paths in the document",
      jsonPathsFn),
    ("parse_json",
      "parse_json(expr) - Druid PARSE_JSON: validate + normalize (throws on invalid)",
      parseJsonFn),
    ("try_parse_json",
      "try_parse_json(expr) - Druid TRY_PARSE_JSON: like parse_json, NULL on invalid",
      tryParseJsonFn),
    ("earliest", "earliest(expr[, maxBytes]) - Druid EARLIEST (by __time)",
      earliest),
    ("latest", "latest(expr[, maxBytes]) - Druid LATEST (by __time)", latest),
    ("earliest_by", "earliest_by(expr, ts[, maxBytes]) - Druid EARLIEST_BY",
      earliestBy),
    ("latest_by", "latest_by(expr, ts[, maxBytes]) - Druid LATEST_BY",
      latestBy),
    ("safe_divide", "safe_divide(x, y) - null on zero/null denominator",
      safeDivide),
    ("lookup", "lookup(expr, lookupName[, replaceMissing]) - Druid LOOKUP",
      lookup),
    ("div", "div(x, y) - Druid DIV (integer division)", divFn),
    ("bitwise_and", "bitwise_and(x, y) - Druid BITWISE_AND",
      bitwise2("bitwise_and", BitwiseAnd(_, _))),
    ("bitwise_or", "bitwise_or(x, y) - Druid BITWISE_OR",
      bitwise2("bitwise_or", BitwiseOr(_, _))),
    ("bitwise_xor", "bitwise_xor(x, y) - Druid BITWISE_XOR",
      bitwise2("bitwise_xor", BitwiseXor(_, _))),
    ("bitwise_shift_left", "bitwise_shift_left(x, y) - Druid BITWISE_SHIFT_LEFT",
      bitwise2("bitwise_shift_left",
        (a, b) => ShiftLeft(a, Cast(b, IntegerType)))),
    ("bitwise_shift_right", "bitwise_shift_right(x, y) - Druid BITWISE_SHIFT_RIGHT",
      bitwise2("bitwise_shift_right",
        (a, b) => ShiftRight(a, Cast(b, IntegerType)))),
    ("contains_string", "contains_string(haystack, needle) - Druid CONTAINS_STRING",
      containsString),
    ("icontains_string", "icontains_string(haystack, needle) - case-insensitive",
      icontainsString),
    ("strpos", "strpos(haystack, needle) - 1-based, 0 when absent",
      strpos),
    ("textcat", "textcat(a, b) - Druid TEXTCAT", textcat),
    ("string_format", "string_format(pattern[, args...]) - Druid STRING_FORMAT",
      stringFormat),
    ("parse_long", "parse_long(string[, radix]) - Druid PARSE_LONG (null on bad input)",
      parseLong),
    ("approx_quantile",
      "approx_quantile(expr, prob[, resolution]) - Druid APPROX_QUANTILE",
      approxQuantile),
    ("ipv4_parse", "ipv4_parse(address) - dotted quad to long, null if malformed",
      ipv4Parse),
    ("ipv4_stringify", "ipv4_stringify(long) - long to dotted quad",
      ipv4Stringify),
    ("ipv4_match", "ipv4_match(address, 'a.b.c.d/prefix') - CIDR containment",
      ipv4Match),
    ("ds_hll", "ds_hll(expr[, lgK]) - DataSketches HLL build aggregate",
      dsHll),
    ("approx_count_distinct_ds_hll",
      "approx_count_distinct_ds_hll(expr[, lgK]) - Druid HLL count-distinct",
      approxCountDistinctDsHll),
    ("ds_theta", "ds_theta(expr[, size]) - DataSketches Theta build aggregate",
      dsTheta),
    ("approx_count_distinct_ds_theta",
      "approx_count_distinct_ds_theta(expr[, size]) - Druid Theta count-distinct",
      approxCountDistinctDsTheta),
    ("theta_sketch_estimate",
      "theta_sketch_estimate(sketch) - Druid THETA_SKETCH_ESTIMATE (double)",
      thetaSketchEstimate),
    ("theta_sketch_union",
      "theta_sketch_union(a, b) - Druid THETA_SKETCH_UNION",
      binBinShim("theta_sketch_union", DsTheta.unionBytes)),
    ("theta_sketch_intersect",
      "theta_sketch_intersect(a, b) - Druid THETA_SKETCH_INTERSECT",
      binBinShim("theta_sketch_intersect", DsTheta.intersectBytes)),
    ("theta_sketch_not",
      "theta_sketch_not(a, b) - Druid THETA_SKETCH_NOT",
      binBinShim("theta_sketch_not", DsTheta.aNotBBytes)),
    ("ds_quantiles_sketch",
      "ds_quantiles_sketch(expr[, k]) - DataSketches quantiles build aggregate",
      dsQuantilesSketch),
    ("approx_quantile_ds",
      "approx_quantile_ds(expr, prob[, k]) - Druid APPROX_QUANTILE_DS",
      approxQuantileDs),
    ("ds_get_quantile",
      "ds_get_quantile(sketch, prob) - Druid DS_GET_QUANTILE",
      dsGetQuantile),
    ("ds_freq",
      "ds_freq(expr[, maxMapSize]) - DataSketches Frequent-Items build aggregate",
      dsFreq),
    ("ds_freq_topk",
      "ds_freq_topk(sketch, k) - top-k (item, est) by estimate desc, item asc",
      dsFreqTopK),
    ("ds_freq_estimate",
      "ds_freq_estimate(sketch, item) - estimated count of one item",
      dsFreqEstimate),
    ("ds_freq_max_error",
      "ds_freq_max_error(sketch) - max estimation error; 0 = exact",
      dsFreqMaxError),
    ("ds_tuple",
      "ds_tuple(key, metrics_array[, nominalEntries]) - DataSketches Tuple (arrayOfDoubles) build aggregate",
      dsTuple),
    ("ds_tuple_merge",
      "ds_tuple_merge(sketch[, nominalEntries]) - merge pre-built tuple sketch blobs",
      dsTupleMerge),
    ("ds_tuple_estimate",
      "ds_tuple_estimate(sketch) - distinct-key estimate (exact while theta = 1)",
      dsTupleEstimate),
    ("ds_tuple_metrics_sum",
      "ds_tuple_metrics_sum(sketch) - per-metric sums over distinct keys / theta",
      dsTupleMetricsSum),
    ("ds_tuple_n",
      "ds_tuple_n(sketch) - retained entry count",
      dsTupleN),
    ("ds_tuple_union",
      "ds_tuple_union(a, b[, nominalEntries]) - tuple sketch union (values summed per key)",
      tupleSetOp("ds_tuple_union", DsTuple.unionBytes)),
    ("ds_tuple_intersect",
      "ds_tuple_intersect(a, b[, nominalEntries]) - tuple sketch intersection (values summed)",
      tupleSetOp("ds_tuple_intersect", DsTuple.intersectBytes)),
    ("ds_tuple_not",
      "ds_tuple_not(a, b) - tuple sketch A-and-not-B",
      tupleSetOp("ds_tuple_not", (a, b, _) => DsTuple.aNotBBytes(a, b))),
    ("tdigest_agg",
      "tdigest_agg(expr[, compression]) - DataSketches t-digest build aggregate (blob children merge)",
      tdigestAgg),
    ("tdigest_sketch_quantile",
      "tdigest_sketch_quantile(sketch, fraction) - interpolated quantile estimate",
      tdigestQuantile),
    ("tdigest_rank",
      "tdigest_rank(sketch, value) - estimated rank of a value in [0,1]",
      tdigestRank),
    ("tdigest_total_weight",
      "tdigest_total_weight(sketch) - exact count of aggregated values",
      tdigestTotalWeight),
    // Druid SQL wire names (druid-tdigest / datasketches-tuple
    // extensions) — the spellings the console and BI tools emit
    ("tdigest_generate_sketch",
      "tdigest_generate_sketch(expr[, compression]) - Druid SQL TDIGEST_GENERATE_SKETCH (alias of tdigest_agg)",
      tdigestAgg),
    ("tdigest_quantile",
      "tdigest_quantile(expr, fraction[, compression]) - Druid SQL TDIGEST_QUANTILE: aggregate raw values (or merge blobs) and read one quantile",
      tdigestQuantileSql),
    ("ds_tuple_doubles",
      "ds_tuple_doubles(key, m1[, m2, ...][, nominalEntries]) - Druid SQL DS_TUPLE_DOUBLES build aggregate",
      dsTupleDoubles),
    ("ds_tuple_doubles_estimate",
      "ds_tuple_doubles_estimate(sketch) - Druid SQL DS_TUPLE_DOUBLES_ESTIMATE",
      dsTupleEstimate),
    ("ds_tuple_doubles_metrics_sum_estimate",
      "ds_tuple_doubles_metrics_sum_estimate(sketch) - Druid SQL DS_TUPLE_DOUBLES_METRICS_SUM_ESTIMATE",
      dsTupleMetricsSum),
    ("ds_tuple_doubles_union",
      "ds_tuple_doubles_union(a, b[, nominalEntries]) - Druid SQL DS_TUPLE_DOUBLES_UNION",
      tupleSetOp("ds_tuple_doubles_union", DsTuple.unionBytes)),
    ("ds_tuple_doubles_intersect",
      "ds_tuple_doubles_intersect(a, b[, nominalEntries]) - Druid SQL DS_TUPLE_DOUBLES_INTERSECT",
      tupleSetOp("ds_tuple_doubles_intersect", DsTuple.intersectBytes)),
    ("ds_tuple_doubles_not",
      "ds_tuple_doubles_not(a, b) - Druid SQL DS_TUPLE_DOUBLES_NOT",
      tupleSetOp("ds_tuple_doubles_not", (a, b, _) => DsTuple.aNotBBytes(a, b))))

  /** The full Druid SQL compat family (time + mv + the rest). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] =
    DruidTime.functions ++ DruidMv.functions ++ functions0

  /** Forwards to [[GraftExtensions.install]], which registers this
    * family with the rest of graft's functions.
    */
  def register(spark: SparkSession): Unit = GraftExtensions.install(spark)
}
