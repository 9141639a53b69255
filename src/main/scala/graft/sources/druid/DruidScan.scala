package graft.sources.druid

import java.util.OptionalLong

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.DruidSegment

/** Scan builder with the three pushdowns the reference drops on the
  * floor (filters+limit ignored at
  * src/datafusion_ext/table_provider.rs:63-65):
  *  - column pruning (the only one the reference has);
  *  - `__time` range extraction -> whole-segment interval pruning
  *    (filters stay residual, Spark re-evaluates them row-level, so
  *    overlap at segment edges is still correct);
  *  - limit -> per-partition row cap.
  */
class DruidScanBuilder(root: String, fullSchema: StructType,
                       options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var timeMin: Long = Long.MinValue
  private var timeMax: Long = Long.MaxValue // inclusive bounds, millis
  private var limit: Int = -1
  // AND across columns of (column IN values) — served by the string
  // columns' Roaring bitmap indexes as row-skipping at read time
  private var dimFilters: Map[String, Seq[String]] = Map.empty
  // AND across columns of required value prefixes (LIKE 'p%') — served
  // row-level by a contiguous dictionary-id range's bitmap union, and
  // segment-level by the string zone envelopes
  private var prefixFilters: Map[String, Seq[String]] = Map.empty
  // contains/ends-with predicates served by an O(dictionary) scan +
  // bitmap union per segment (no envelope pruning possible)
  private var patternFilters: Map[String, Seq[DimPattern]] = Map.empty
  // per-numeric-column REQUIRED value range (inclusive), from pushed
  // range/equality filters — matched against manifest zone maps to skip
  // whole segments at planning
  private var zoneFilters: Map[String, (Double, Double)] = Map.empty
  // columns with a pushed IS NOT NULL (Spark implies one for most
  // predicates) — served by the numeric/timestamp null-bitmap trailers
  // as row skipping, and by whole-split skipping where the column is
  // absent from a schema-evolved segment (every row null there)
  private var notNullCols: Set[String] = Set.empty
  // pushed IS NULL: the trailer used positively (select ONLY null
  // rows); a column with no trailer has no nulls, so the split skips
  private var isNullCols: Set[String] = Set.empty
  // top-level OR trees: no single column bound holds, but a segment
  // can still skip when NO disjunct could match its metadata
  private var orFilters: Seq[Filter] = Nil

  // lexicographic bounds from plain V1 string-range filters
  // (WHERE s >= 'x'), which pushFilters records below. Served by a
  // dictionary-id range + bitmap union per segment; the Filter's
  // predicate stays the residual final word. Bounds with no V1 Filter
  // form (other orderings, MV dims), MV-contains and nested-field
  // clauses reach the built scan instead, through
  // graft.plans.MvBitmapRewrite and DruidScan.withBounds /
  // withMvContains / withNestedEq.
  private var boundFilters: Map[String, Seq[DimBound]] = Map.empty

  private def addBound(c: String, b: DimBound): Unit =
    boundFilters += c -> (boundFilters.getOrElse(c, Nil) :+ b)

  // COMPLEX-backed string columns (json) carry no dictionary/bitmaps:
  // exclude them so dim-filter pushdown never consults a dictionary
  // that does not exist (their filters stay Spark-side residuals)
  private def isStringCol(name: String): Boolean =
    fullSchema.fields.exists(f => f.name == name &&
      f.dataType == org.apache.spark.sql.types.StringType &&
      !f.metadata.contains("druid.complexType"))

  private def isNumericCol(name: String): Boolean =
    name != "__time" && fullSchema.fields.exists(f => f.name == name &&
      (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType || f.dataType == FloatType))

  // columns whose storage carries a null-bitmap trailer (numerics and
  // LONG-backed timestamps)
  private def hasNullTrailer(name: String): Boolean =
    isNumericCol(name) || (name != "__time" &&
      fullSchema.fields.exists(f => f.name == name &&
        (f.dataType == TimestampType || f.dataType == TimestampNTZType)))

  /** Filter value as a double bound; None for NaN (sorts above +Inf in
    * Spark — a range can't express it) and non-numerics.
    */
  private def numeric(v: Any): Option[Double] = v match {
    case d: java.lang.Double => if (d.isNaN) None else Some(d)
    case f: java.lang.Float => if (f.isNaN) None else Some(f.toDouble)
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  private def zoneLo(c: String, v: Double): Unit =
    zoneFilters += c -> (zoneFilters.get(c) match {
      case Some((lo, hi)) => (math.max(lo, v), hi)
      case None => (v, Double.PositiveInfinity)
    })
  private def zoneHi(c: String, v: Double): Unit =
    zoneFilters += c -> (zoneFilters.get(c) match {
      case Some((lo, hi)) => (lo, math.min(hi, v))
      case None => (Double.NegativeInfinity, v)
    })

  private def addDimFilter(c: String, vs: Seq[String]): Unit =
    dimFilters += c -> dimFilters.get(c).map(_.intersect(vs)).getOrElse(vs)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def millis(v: Any): Option[Long] = DruidScanBuilder.millis(v)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Bounds are CONSERVATIVE (inclusive of the floored millisecond):
    // millis() floors sub-millisecond filter values, so tightening by
    // ±1ms could prune a segment whose edge rows still satisfy the
    // predicate — and residual filters can't resurrect pruned segments.
    filters.foreach {
      case GreaterThan("__time", v) =>
        // exclusive bound exactly on a millisecond -> tighten past it;
        // sub-millisecond values stay at the floored (conservative) ms
        DruidScanBuilder.exactMillis(v) match {
          case Some(m) => timeMin = math.max(timeMin, m + 1)
          case None => millis(v).foreach(m => timeMin = math.max(timeMin, m))
        }
      case GreaterThanOrEqual("__time", v) => millis(v).foreach(m => timeMin = math.max(timeMin, m))
      case LessThan("__time", v) =>
        // the common day/hour-boundary window: `< boundary` must not
        // drag in the whole next segment at that boundary
        DruidScanBuilder.exactMillis(v) match {
          case Some(m) => timeMax = math.min(timeMax, m - 1)
          case None => millis(v).foreach(m => timeMax = math.min(timeMax, m))
        }
      case LessThanOrEqual("__time", v) => millis(v).foreach(m => timeMax = math.min(timeMax, m))
      case EqualTo("__time", v) => millis(v).foreach { m =>
        timeMin = math.max(timeMin, m); timeMax = math.min(timeMax, m)
      }
      // IN on __time -> conservative [min, max] interval bound (same
      // shape the runtime-filter path already applies)
      case In("__time", vs) if vs.nonEmpty =>
        val ms = vs.toSeq.flatMap(millis)
        if (ms.length == vs.length) {
          timeMin = math.max(timeMin, ms.min)
          timeMax = math.min(timeMax, ms.max)
        }
      case EqualTo(c, v: String) if isStringCol(c) => addDimFilter(c, Seq(v))
      case In(c, vs) if isStringCol(c) && vs.forall(_.isInstanceOf[String]) =>
        addDimFilter(c, vs.toSeq.map(_.asInstanceOf[String]))
      // numeric range/equality -> zone-map segment skipping. Exclusive
      // bounds are recorded inclusively (conservative: an edge-equal
      // segment survives and the residual filter drops its rows)
      case GreaterThan(c, v) if isNumericCol(c) =>
        numeric(v).foreach(zoneLo(c, _))
      case GreaterThanOrEqual(c, v) if isNumericCol(c) =>
        numeric(v).foreach(zoneLo(c, _))
      case LessThan(c, v) if isNumericCol(c) =>
        numeric(v).foreach(zoneHi(c, _))
      case LessThanOrEqual(c, v) if isNumericCol(c) =>
        numeric(v).foreach(zoneHi(c, _))
      case EqualTo(c, v) if isNumericCol(c) =>
        numeric(v).foreach { d => zoneLo(c, d); zoneHi(c, d) }
      // numeric IN -> conservative [min, max] zone envelope (a segment
      // between two requested values survives; residual drops its rows)
      case In(c, vs) if isNumericCol(c) && vs.nonEmpty =>
        val ds = vs.toSeq.flatMap(numeric)
        if (ds.length == vs.length) { zoneLo(c, ds.min); zoneHi(c, ds.max) }
      case IsNotNull(c) if hasNullTrailer(c) => notNullCols += c
      case IsNull(c) if hasNullTrailer(c) => isNullCols += c
      // null-safe equality: a non-null operand prunes exactly like
      // EqualTo (null rows are never in a value's bitmap / zone); a
      // null operand IS an IS NULL
      case EqualNullSafe(c, v: String) if isStringCol(c) =>
        addDimFilter(c, Seq(v))
      case EqualNullSafe(c, v) if v != null && isNumericCol(c) =>
        numeric(v).foreach { d => zoneLo(c, d); zoneHi(c, d) }
      case EqualNullSafe(c, null) if hasNullTrailer(c) => isNullCols += c
      case StringStartsWith(c, p) if isStringCol(c) && p.nonEmpty =>
        prefixFilters += c -> (prefixFilters.getOrElse(c, Nil) :+ p)
      // string ranges -> lexicographic dictionary bounds: bitmap row
      // selection + envelope segment pruning, same residual contract
      case GreaterThan(c, v: String) if isStringCol(c) =>
        addBound(c, DimBound("lexicographic", Some(v), lowerStrict = true,
          None, upperStrict = false))
      case GreaterThanOrEqual(c, v: String) if isStringCol(c) =>
        addBound(c, DimBound("lexicographic", Some(v), lowerStrict = false,
          None, upperStrict = false))
      case LessThan(c, v: String) if isStringCol(c) =>
        addBound(c, DimBound("lexicographic", None, lowerStrict = false,
          Some(v), upperStrict = true))
      case LessThanOrEqual(c, v: String) if isStringCol(c) =>
        addBound(c, DimBound("lexicographic", None, lowerStrict = false,
          Some(v), upperStrict = false))
      case o: Or => orFilters :+= o
      case StringContains(c, v) if isStringCol(c) && v.nonEmpty =>
        patternFilters += c ->
          (patternFilters.getOrElse(c, Nil) :+ DimPattern("contains", v))
      case StringEndsWith(c, v) if isStringCol(c) && v.nonEmpty =>
        patternFilters += c ->
          (patternFilters.getOrElse(c, Nil) :+ DimPattern("ends", v))
      case _ => ()
    }
    pushed = filters.filter {
      case GreaterThan("__time", _) | GreaterThanOrEqual("__time", _) |
           LessThan("__time", _) | LessThanOrEqual("__time", _) |
           EqualTo("__time", _) => true
      case EqualTo(c, _: String) => isStringCol(c)
      case In(c, _) => c == "__time" || isStringCol(c) || isNumericCol(c)
      case GreaterThan(c, v) => isNumericCol(c) ||
        (isStringCol(c) && v.isInstanceOf[String])
      case GreaterThanOrEqual(c, v) => isNumericCol(c) ||
        (isStringCol(c) && v.isInstanceOf[String])
      case LessThan(c, v) => isNumericCol(c) ||
        (isStringCol(c) && v.isInstanceOf[String])
      case LessThanOrEqual(c, v) => isNumericCol(c) ||
        (isStringCol(c) && v.isInstanceOf[String])
      case EqualTo(c, _) => isNumericCol(c)
      case IsNotNull(c) => hasNullTrailer(c)
      case IsNull(c) => hasNullTrailer(c)
      case EqualNullSafe(c, v) =>
        (v != null && (isStringCol(c) || isNumericCol(c))) ||
          (v == null && hasNullTrailer(c))
      case StringStartsWith(c, p) => isStringCol(c) && p.nonEmpty
      case _: Or => true // segment-level disjunctive pruning
      case StringContains(c, v) => isStringCol(c) && v.nonEmpty
      case StringEndsWith(c, v) => isStringCol(c) && v.nonEmpty
      case _ => false
    }
    filters // all residual: we prune storage, Spark verifies rows
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // default isPartiallyPushed => Spark still applies the global limit

  // ORDER BY __time [DESC] LIMIT k: scan only the interval-extreme
  // segments that provably contain the true top-k (desc: Some(true))
  private var topNTime: Option[(Boolean, Int)] = None

  /** Partial top-N pushdown for time ordering — the "most recent k
    * events" query a time-series table exists for. Only when NOTHING
    * filters the scan (a residual filter could drop rows and leave
    * fewer than k survivors in the cut set) and the single sort key is
    * `__time`: then segments are cut by interval so a 100 TB table
    * reads only its newest (oldest) segments, and Spark's own
    * TakeOrdered still does the exact final ordering.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val clean = pushed.isEmpty && dimFilters.isEmpty && zoneFilters.isEmpty &&
      notNullCols.isEmpty && isNullCols.isEmpty && prefixFilters.isEmpty &&
      patternFilters.isEmpty && boundFilters.isEmpty &&
      timeMin == Long.MinValue && timeMax == Long.MaxValue
    if (!clean || orders.length != 1 || l <= 0) return false
    val o = orders.head
    o.expression() match {
      case r: NamedReference if r.fieldNames.sameElements(Array("__time")) =>
        topNTime = Some((o.direction() == SortDirection.DESCENDING, l))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true // Spark re-sorts exactly

  private var pushedAggs: Seq[String] = Nil

  /** Complete pushdown of metadata-answerable aggregates, no data
    * decode at all:
    *  - COUNT(*): header-derived row counts (always exact);
    *  - COUNT(col): rows minus the manifest null counts, ONLY when
    *    every segment's manifest entry carries them (a missing key
    *    under a present map = schema-evolved segment without the
    *    column = all rows null there);
    *  - MIN/MAX(__time): index.drd interval bounds, ONLY when every
    *    segment's metadata.drd carries our writer's `exactInterval`
    *    flag — real Druid aligns intervals to granularity, so foreign
    *    segments keep time bounds un-pushed (and correct).
    * Spark only attempts aggregate pushdown when no post-scan filters
    * remain; we report every filter as residual, so this can only
    * trigger on unfiltered scans.
    */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // one pushdown per builder: an OUTER aggregate stacked on an
    // already-pushed one (e.g. `.agg(min,max).count()`) must be computed
    // by Spark over our one-row result, not overwrite the pushed state
    if (pushedAggs.nonEmpty) return false
    val kinds = agg.aggregateExpressions().toSeq
      .map(DruidScanBuilder.aggKind(_, fullSchema))
    // kinds.nonEmpty: an outer count() can prune a stacked aggregate's
    // output to ZERO expressions — pushing that would make the scan
    // produce 0 columns where Spark still expects a row shape
    agg.groupByExpressions().isEmpty && kinds.nonEmpty && kinds.forall(_.isDefined) &&
      kinds.flatten.forall {
        case "count" => true
        case k if k.startsWith("count:") => allNullCountsKnown
        case k if k.startsWith("min:") || k.startsWith("max:") =>
          minMaxAnswerable(k.drop(6), k.charAt(4))
        case k if k.startsWith("sum:") => sumAnswerable(k.drop(6))
        case _ => allIntervalsExact
      }
  }

  /** SUM(long col): every segment must carry the partial sum or be
    * provably all-null for the column (sum skips nulls).
    */
  private def sumAnswerable(col: String): Boolean =
    try SegmentCatalog.metaFor(root).forall { m =>
      m.longSums.contains(col) || m.nullCounts.exists(nc =>
        nc.getOrElse(col, m.rows.toLong) == m.rows.toLong)
    } catch { case _: Exception => false }

  /** MIN/MAX(col) answers from exact zones ONLY when every segment
    * either carries the exact zone or is provably all-null for the
    * column (null count == rows, or the column absent under a present
    * null-count map — min/max skip nulls). A zone missing for any
    * other reason (old manifest, NaN-disabled, fallback open) blocks
    * the pushdown: a NaN-holding segment has values a range can't
    * represent.
    */
  private def minMaxAnswerable(col: String, typ: Char): Boolean =
    try SegmentCatalog.metaFor(root).forall { m =>
      val hasZone =
        if (typ == 'L') m.exactLongZones.contains(col)
        else m.exactDoubleZones.contains(col)
      hasZone || m.nullCounts.exists(nc =>
        nc.getOrElse(col, m.rows.toLong) == m.rows.toLong)
    } catch { case _: Exception => false }

  // manifest read (or one-time parallel open), only when a
  // min/max(__time) pushdown is attempted
  private lazy val allIntervalsExact: Boolean =
    try SegmentCatalog.metaFor(root).forall(_.exactInterval)
    catch { case _: Exception => false }

  private lazy val allNullCountsKnown: Boolean =
    try SegmentCatalog.metaFor(root).forall(_.nullCounts.isDefined)
    catch { case _: Exception => false }

  // PARTIAL pushdown: GROUP BY <string dim> with COUNT(*) aggregates.
  // Each segment contributes its dictionary's (value, bitmap
  // cardinality) pairs — O(dictionary) rows instead of O(rows) — and
  // Spark's final aggregate sums the per-segment partials. The Druid
  // groupBy/topN execution shape on Spark's own partial-agg contract.
  private var groupByDim: Option[String] = None

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (supportCompletePushDown(agg)) {
      pushedAggs = agg.aggregateExpressions().toSeq
        .flatMap(DruidScanBuilder.aggKind(_, fullSchema))
      return true
    }
    if (pushedAggs.nonEmpty || groupByDim.isDefined) return false
    val clean = pushed.isEmpty && dimFilters.isEmpty && zoneFilters.isEmpty &&
      notNullCols.isEmpty && isNullCols.isEmpty && prefixFilters.isEmpty &&
      patternFilters.isEmpty && boundFilters.isEmpty &&
      limit < 0 && timeMin == Long.MinValue && timeMax == Long.MaxValue
    val groupCols = agg.groupByExpressions().toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    val allCountStar = agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall(_.isInstanceOf[CountStar])
    if (clean && allCountStar && groupCols.length == 1 &&
        groupCols.head.exists(isStringCol)) {
      groupByDim = groupCols.head
      pushedAggs = agg.aggregateExpressions().toSeq.map(_ => "count")
      true
    } else false
  }

  override def build(): Scan =
    new DruidScan(root, required, timeMin, timeMax, limit,
      graft.Settings.RowsPerSplit.in(options), dimFilters, pushedAggs, zoneFilters,
      notNullCols, isNullCols, topNTime, groupByDim, prefixFilters,
      patternFilters, orFilters, boundFilters)
}

object DruidScanBuilder {
  /** Metadata-answerable aggregate kinds: count | count:<col> |
    * min_time | max_time | (min|max):(L|D|F):<col> (exact zone
    * answers, typed long/double/float).
    */
  def aggKind(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc,
              schema: StructType): Option[String] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def isTime(c: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      c match {
        case r: NamedReference => r.fieldNames.sameElements(Array("__time"))
        case _ => false
      }
    def numericCol(c: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      c match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            r.fieldNames.head != "__time" =>
          val name = r.fieldNames.head
          schema.fields.find(_.name == name).map(_.dataType).collect {
            case LongType => s"L:$name"
            case DoubleType => s"D:$name"
            case FloatType => s"F:$name"
          }
        case _ => None
      }
    e match {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct =>
        c.column match {
          case r: NamedReference if r.fieldNames.length == 1 =>
            Some(s"count:${r.fieldNames.head}")
          case _ => None
        }
      case m: Min if isTime(m.column) => Some("min_time")
      case m: Max if isTime(m.column) => Some("max_time")
      case m: Min => numericCol(m.column).map(t => s"min:$t")
      case m: Max => numericCol(m.column).map(t => s"max:$t")
      case s: org.apache.spark.sql.connector.expressions.aggregate.Sum
          if !s.isDistinct =>
        // long columns only: integer partial sums merge exactly (mod
        // 2^64 addition is associative, matching non-ANSI Spark sum);
        // floating sums are order-dependent and stay un-pushed
        numericCol(s.column).collect { case t if t.startsWith("L:") => s"sum:$t" }
      case _ => None
    }
  }

  /** Filter value as a double bound for metadata tests; None for NaN
    * and non-numerics (conservative: no pruning).
    */
  def numericOpt(v: Any): Option[Double] = v match {
    case d: java.lang.Double => if (d.isNaN) None else Some(d)
    case f: java.lang.Float => if (f.isNaN) None else Some(f.toDouble)
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Filter-value -> epoch millis, covering TZ (Timestamp/Instant), NTZ
    * (LocalDateTime; session TZ is UTC), and raw long values. Shared by
    * compile-time pushFilters and runtime (DPP) filter().
    */
  def millis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case d: java.time.LocalDateTime =>
      Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    case l: Long => Some(l)
    case _ => None
  }

  /** Like millis, but only when the value sits EXACTLY on a millisecond
    * boundary — lets exclusive bounds tighten by a full ms instead of
    * conservatively including the boundary segment.
    */
  def exactMillis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp if t.getNanos % 1000000 == 0 => Some(t.getTime)
    case i: java.time.Instant if i.getNano % 1000000 == 0 => Some(i.toEpochMilli)
    case d: java.time.LocalDateTime if d.getNano % 1000000 == 0 =>
      Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    case l: Long => Some(l)
    case _ => None
  }
}

final case class DruidInputPartition(dir: String, rowStart: Int, rowEnd: Int,
                                     limit: Int,
                                     dimFilters: Map[String, Seq[String]],
                                     notNullCols: Set[String] = Set.empty,
                                     isNullCols: Set[String] = Set.empty,
                                     prefixFilters: Map[String, Seq[String]] =
                                       Map.empty,
                                     patternFilters: Map[String, Seq[DimPattern]] =
                                       Map.empty,
                                     dayKey: Int = 0,
                                     orFilters: Seq[Filter] = Nil,
                                     boundFilters: Map[String, Seq[DimBound]] =
                                       Map.empty,
                                     mvContains: Seq[(String, Seq[String])] =
                                       Nil,
                                     nestedEq:
                                       Seq[(String, String, Seq[String])] =
                                       Nil,
                                     /** scan's reader lease, renewed by
                                       * the partition reader while it
                                       * reads (ReadLease) */
                                     lease: Option[ReadLease.Token] = None)
    extends InputPartition with HasPartitionKey {
  // meaningful only when the scan reports KeyGroupedPartitioning
  // (granularity-aligned tables); int buckets-since-epoch of the
  // table's alignment (hours/days/months), the transform's result type
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dayKey))
}

/** Dictionary-scan-served string predicate: kind is "contains" or
  * "ends" — evaluated once per dictionary entry, never per row.
  */
final case class DimPattern(kind: String, pattern: String)

/** A comparator bound on a string dimension, evaluated ONCE PER
  * DICTIONARY VALUE at the reader (Druid's bound-filter execution:
  * comparator over the dictionary, qualifying-id bitmap union) — never
  * per row. Orderings: lexicographic, strlen, alphanumeric, version.
  * A bound under a non-lexicographic StringComparator (or inside an
  * MV dim's exists) has no V1 Filter form, so graft.plans
  * .MvBitmapRewrite derives it from the Filter's Catalyst predicate
  * and hands it to the built scan through [[DruidScan.withBounds]];
  * that predicate stays the residual, so the bitmap only needs to be
  * a superset — it is in fact exact, which the probe spec pins.
  */
final case class DimBound(ordering: String,
                          lower: Option[String], lowerStrict: Boolean,
                          upper: Option[String], upperStrict: Boolean)

object DimBound {
  /** The bound as a predicate over RAW dictionary bytes (UTF-8), with
    * the bound sides pre-computed once. Byte-level comparisons match
    * Spark's UTF8String binary ordering exactly (Java String.compareTo
    * is UTF-16 order and diverges above U+E000); version/alphanumeric
    * reuse the production statics the residual predicate evaluates, so
    * the selection is value-for-value identical to the residual.
    */
  def predicate(b: DimBound): Array[Byte] => Boolean = {
    def cmpU(x: Array[Byte], y: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(x, y)
    // the ordering's row-side key (parse/encode) is derived ONCE per
    // dictionary value and compared against both precomputed bound
    // sides in a single closure — a two-sided version/alphanumeric
    // bound must not parse every dictionary entry twice
    def sides[K](key: Array[Byte] => K, cmp: (K, K) => Int,
                 lo: Option[K], hi: Option[K]): Array[Byte] => Boolean = { v =>
      val k = key(v)
      (lo.isEmpty || {
        val c = cmp(k, lo.get); if (b.lowerStrict) c > 0 else c >= 0
      }) &&
      (hi.isEmpty || {
        val c = cmp(k, hi.get); if (b.upperStrict) c < 0 else c <= 0
      })
    }
    b.ordering match {
      case "lexicographic" | "" =>
        sides[Array[Byte]](identity, cmpU,
          b.lower.map(_.getBytes("UTF-8")), b.upper.map(_.getBytes("UTF-8")))
      case "strlen" =>
        // (code-point length, bytes): matches struct(length(c), c)
        def key(bytes: Array[Byte]): (Int, Array[Byte]) =
          (org.apache.spark.unsafe.types.UTF8String
            .fromBytes(bytes).numChars(), bytes)
        def cmp(x: (Int, Array[Byte]), y: (Int, Array[Byte])): Int = {
          val c = Integer.compare(x._1, y._1)
          if (c != 0) c else cmpU(x._2, y._2)
        }
        sides[(Int, Array[Byte])](key, cmp,
          b.lower.map(s => key(s.getBytes("UTF-8"))),
          b.upper.map(s => key(s.getBytes("UTF-8"))))
      case "alphanumeric" =>
        sides[Array[Byte]](
          v => graft.sql.Alphanum.keyOf(new String(v, "UTF-8")).getBytes("UTF-8"),
          cmpU,
          b.lower.map(s => graft.sql.Alphanum.keyOf(s).getBytes("UTF-8")),
          b.upper.map(s => graft.sql.Alphanum.keyOf(s).getBytes("UTF-8")))
      case "version" =>
        sides(
          (v: Array[Byte]) => graft.sql.VersionOrder.parse(new String(v, "UTF-8")),
          graft.sql.VersionOrder.compare _,
          b.lower.map(graft.sql.VersionOrder.parse),
          b.upper.map(graft.sql.VersionOrder.parse))
      case _ =>
        // unknown ordering: select everything; the residual decides
        _ => true
    }
  }
}

/** Nested-field equality clauses `(column, "$.path", values)`. */
object NestedEq {
  /** Canonical clause: values distinct and sorted (dedup key). */
  def canon(c: (String, String, Seq[String])): (String, String, Seq[String]) =
    (c._1, c._2, c._3.distinct.sorted.toList)
}

/** Multi-value contains clauses `(column, values)`: each selects rows
  * whose multi-value dimension contains ANY of the values; clauses AND.
  */
object MvContains {
  /** Canonical clause: values distinct and sorted (dedup key). */
  def canon(c: (String, Seq[String])): (String, Seq[String]) =
    (c._1, c._2.distinct.sorted.toList)
}

/** Single partition carrying metadata-derived aggregate answers (one
  * value per pushed aggregate, in order; null = empty table).
  */
final case class MetaAggPartition(values: Array[Any]) extends InputPartition

/** One segment's contribution to a partially-pushed
  * GROUP BY dim, COUNT(*): the dictionary's (value, cardinality)
  * pairs. `rows` lets a schema-evolved segment without the column
  * report its single all-null group.
  */
final case class GroupByDimPartition(dir: String, dim: String,
                                     nAggs: Int, rows: Int)
    extends InputPartition

class DruidScan(root: String, required: StructType,
                timeMinMs0: Long, timeMaxMs0: Long, limit: Int,
                rowsPerSplit: Long,
                dimFilters0: Map[String, Seq[String]] = Map.empty,
                pushedAggs: Seq[String] = Nil,
                zoneFilters: Map[String, (Double, Double)] = Map.empty,
                notNullCols: Set[String] = Set.empty,
                isNullCols: Set[String] = Set.empty,
                topNTime: Option[(Boolean, Int)] = None,
                groupByDim: Option[String] = None,
                prefixFilters: Map[String, Seq[String]] = Map.empty,
                patternFilters: Map[String, Seq[DimPattern]] = Map.empty,
                orFilters: Seq[Filter] = Nil,
                boundFilters: Map[String, Seq[DimBound]] = Map.empty,
                mvContains: Seq[(String, Seq[String])] = Nil,
                nestedEq: Seq[(String, String, Seq[String])] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportOrdering
    with SupportsReportPartitioning {

  private def aggPushed: Boolean = pushedAggs.nonEmpty

  /** Table directory (RollupRouting matches post-pushdown scan
    * relations back to their registered base by root).
    */
  def rootDir: String = root

  /** True iff NOTHING row-restricting or row-reshaping was pushed into
    * this scan — it reads every row of the table, possibly column-
    * pruned. Only such a scan is equivalent to the registered base
    * relation for rollup routing: a scan carrying a pushed filter /
    * limit / topN / aggregate answers a DIFFERENT row set than the
    * base, and routing it to the rollup would silently drop that
    * pushed condition.
    */
  def isPlainProjection: Boolean =
    timeMinMs0 == Long.MinValue && timeMaxMs0 == Long.MaxValue &&
      limit < 0 && dimFilters0.isEmpty && pushedAggs.isEmpty &&
      zoneFilters.isEmpty && notNullCols.isEmpty && isNullCols.isEmpty &&
      topNTime.isEmpty && groupByDim.isEmpty && prefixFilters.isEmpty &&
      patternFilters.isEmpty && orFilters.isEmpty &&
      boundFilters.isEmpty && mvContains.isEmpty && nestedEq.isEmpty

  /** Per-partition __time ordering, reported only when EVERY segment
    * was written time-sorted (manifest flag; Druid's own layout): row
    * ranges and bitmap row selections both preserve ascending row
    * position, so each split streams __time-ascending and Spark's
    * RemoveRedundantSorts can drop explicit per-partition time sorts.
    * Aggregate-pushdown shapes emit synthetic rows — no claim there.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val claimable = !aggPushed && groupByDim.isEmpty &&
      readSchema().fieldNames.contains("__time") &&
      segmentMeta.nonEmpty && segmentMeta.forall(_.timeSorted) &&
      // SPJ grouping caveat: when the scan also reports day-keyed
      // KeyGroupedPartitioning, Spark may CONCATENATE same-day splits
      // into one partition — ascending per split, not across splits.
      // Claim ordering only when no two splits can share a day key, so
      // the claim survives grouping (UnknownPartitioning can't group).
      (!spjClaimable || {
        val keys = splitsFor(prunedSegments)
          .collect { case p: DruidInputPartition => p.dayKey }
        keys.distinct.length == keys.length
      })
    if (claimable)
      Array(Expressions.sort(Expressions.column("__time"),
        SortDirection.ASCENDING))
    else Array.empty
  }

  // runtime (DPP-style) filters tighten these before planInputPartitions
  private var timeMinMs: Long = timeMinMs0
  private var timeMaxMs: Long = timeMaxMs0
  private var dimFilters: Map[String, Seq[String]] = dimFilters0

  /** Join-driven runtime filters: accept IN/EqualTo on string dims
    * (served by the bitmap indexes) and on __time (segment pruning) —
    * the dynamic-partition-pruning shape for segment tables.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    required.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        Expressions.column(f.name)
      case f if f.name == "__time" => Expressions.column(f.name)
    }
  }

  override def filter(filters: Array[Filter]): Unit = if (!aggPushed) filters.foreach {
    // guard: a metadata-answered aggregate must cover ALL rows; runtime
    // filters only narrow scanned data as an optimization, which is
    // unsound when the "scan" is already the final answer
    case In(c, vs) if vs.forall(_.isInstanceOf[String]) =>
      val values = vs.toSeq.map(_.asInstanceOf[String])
      dimFilters += c -> dimFilters.get(c).map(_.intersect(values)).getOrElse(values)
    case EqualTo(c, v: String) =>
      dimFilters += c -> dimFilters.get(c).map(_.intersect(Seq(v))).getOrElse(Seq(v))
    case In("__time", vs) if vs.nonEmpty =>
      val ms = vs.toSeq.flatMap(DruidScanBuilder.millis)
      if (ms.nonEmpty) {
        timeMinMs = math.max(timeMinMs, ms.min)
        timeMaxMs = math.min(timeMaxMs, ms.max)
      }
    case _ => ()
  }

  override def readSchema(): StructType =
    if (groupByDim.isDefined)
      StructType(
        StructField(groupByDim.get, org.apache.spark.sql.types.StringType,
          nullable = true) +:
        pushedAggs.map(_ => StructField("count(*)",
          org.apache.spark.sql.types.LongType, nullable = false)))
    else if (aggPushed)
      StructType(pushedAggs.map {
        case "count" => StructField("count(*)", org.apache.spark.sql.types.LongType,
          nullable = false)
        case k if k.startsWith("count:") =>
          StructField(s"count(${k.stripPrefix("count:")})",
            org.apache.spark.sql.types.LongType, nullable = false)
        case "min_time" => StructField("min(__time)", TimestampType, nullable = true)
        case "max_time" => StructField("max(__time)", TimestampType, nullable = true)
        case k if k.startsWith("min:") || k.startsWith("max:") =>
          val t = k.charAt(4) match {
            case 'L' => LongType
            case 'D' => DoubleType
            case 'F' => FloatType
          }
          StructField(s"${k.take(3)}(${k.drop(6)})", t, nullable = true)
        case k if k.startsWith("sum:") =>
          StructField(s"sum(${k.drop(6)})", LongType, nullable = true)
      })
    else required
  override def toBatch: Batch = this

  /** Copy of this scan with additional MV-contains row-selection
    * clauses: the hook graft.plans.MvBitmapRewrite uses on a scan that
    * V2ScanRelationPushDown already built. Like every hint below, a
    * superset row selection: the caller's predicate must stay on the
    * plan as the residual final word. The rule only fires on
    * Filter-over-scan shapes, which never carry a pushed aggregate,
    * limit or top-N (Spark pushes those only with no residual filter).
    */
  def withMvContains(extra: Seq[(String, Seq[String])]): DruidScan = {
    // clauses AND together — two clauses on one column stay SEPARATE
    // (contains a2 AND contains-any-of b0/b2), never flattened into one
    // weaker any-of clause; dedup is by exact canonical clause
    val fresh = extra.map(MvContains.canon).distinct
      .filterNot(mvContains.map(MvContains.canon).toSet)
    if (fresh.isEmpty) this else withHints(mv = mvContains ++ fresh)
  }

  /** Copy with additional nested-field equality row-selection clauses
    * (the get_json_object predicate stays the residual final word).
    */
  def withNestedEq(extra: Seq[(String, String, Seq[String])]): DruidScan = {
    val fresh = extra.map(NestedEq.canon).distinct
      .filterNot(nestedEq.map(NestedEq.canon).toSet)
    if (fresh.isEmpty) this else withHints(ne = nestedEq ++ fresh)
  }

  /** Copy with additional comparator bounds per column (bounds AND;
    * the compiled comparator predicate stays the residual final word).
    */
  def withBounds(extra: Map[String, Seq[DimBound]]): DruidScan = {
    val fresh = extra.map { case (c, bs) =>
      c -> bs.distinct.filterNot(boundFilters.getOrElse(c, Nil).contains)
    }.filter(_._2.nonEmpty)
    if (fresh.isEmpty) this
    else withHints(bounds = fresh.foldLeft(boundFilters) { case (m, (c, bs)) =>
      m + (c -> (m.getOrElse(c, Nil) ++ bs))
    })
  }

  private def withHints(bounds: Map[String, Seq[DimBound]] = boundFilters,
                        mv: Seq[(String, Seq[String])] = mvContains,
                        ne: Seq[(String, String, Seq[String])] = nestedEq)
      : DruidScan =
    new DruidScan(root, required, timeMinMs0, timeMaxMs0, limit,
      rowsPerSplit, dimFilters0, pushedAggs, zoneFilters,
      notNullCols, isNullCols, topNTime, groupByDim, prefixFilters,
      patternFilters, orFilters, bounds, mv, ne)

  override def description(): String =
    s"DruidScan(root=$root, columns=${required.fieldNames.mkString(",")}, " +
      s"time=[$timeMinMs,$timeMaxMs], limit=$limit, dimFilters=$dimFilters, " +
      s"prefixFilters=$prefixFilters, patternFilters=$patternFilters, " +
      s"boundFilters=$boundFilters, mvContains=$mvContains, " +
      s"nestedEq=$nestedEq, " +
      s"zoneFilters=$zoneFilters, notNull=${notNullCols.mkString(",")}, " +
      s"isNull=${isNullCols.mkString(",")}, topNTime=$topNTime, " +
      s"groupByDim=$groupByDim, pushedAggs=${pushedAggs.mkString(",")})"

  /** (interval, rows) metadata per segment, resolved ONCE per scan:
    * from the table manifest when valid (one small-file read, no
    * segment opens at all), else one parallel metadata-open pass.
    * At 10^4-10^5 segments (100 TB) per-query per-callback serial opens
    * would put minutes of wall time on the driver; this is O(1) reads.
    *
    * A reader lease is acquired BEFORE the listing (the ordering is
    * the protection anchor — see ReadLease): any segment tombstoned
    * from this instant on stays un-purged while the lease lives, so a
    * read of any length finishes against the generation it planned
    * even across overwrites/compactions and grace expiry. Partition
    * readers renew the lease as they read.
    */
  private lazy val leaseAndMeta: (Option[ReadLease.Token], Seq[SegMeta]) = {
    val lease = ReadLease.acquire(root)
    (lease, SegmentCatalog.metaFor(root))
  }
  private def lease: Option[ReadLease.Token] = leaseAndMeta._1
  private def segmentMeta: Seq[SegMeta] = leaseAndMeta._2

  /** Segments whose [start, end) interval intersects the pushed time
    * range (interval from index.drd; reference src/segment/metadata.rs:22-23
    * parses it but never uses it for pruning). Pruning is a pure filter
    * over the memoized metadata, so runtime (DPP) filters that tighten
    * the bounds between estimateStatistics and planInputPartitions
    * re-filter without re-opening anything.
    */
  /** Zone-map test: a segment survives unless SOME zone-filtered column
    * has a manifest zone disjoint from the required range. Columns
    * without zone info never prune (fallback-indexed or non-numeric).
    */
  private def zonesAdmit(m: SegMeta): Boolean =
    zoneFilters.forall { case (c, (flo, fhi)) =>
      m.zones.get(c).forall { case (zlo, zhi) => zhi >= flo && zlo <= fhi }
    }

  /** String-dimension zone test over the SAME dim filters the bitmap
    * indexes serve row-level: a segment survives only if some required
    * IN value falls inside its [min, max] string envelope (Java
    * `compareTo`, matching the write side). Evaluated in
    * `prunedSegments`, so runtime (DPP) filters that tighten dimFilters
    * between estimateStatistics and planInputPartitions skip segments
    * too — join-driven segment pruning, not just row skipping.
    */
  private def strZonesAdmit(m: SegMeta): Boolean =
    dimFilters.forall { case (c, vs) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        vs.exists(v => v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0)
      }
    }

  /** Prefix (LIKE 'p%') segment test against the string envelopes: a
    * value starts with p only if p <= value < succ(p) (bump the last
    * non-max char), so a segment whose [lo, hi] envelope misses that
    * interval can't hold a match. Both bounds are conservative in the
    * envelope's compareTo order; the residual filter re-verifies rows.
    */
  private def prefixZonesAdmit(m: SegMeta): Boolean =
    prefixFilters.forall { case (c, ps) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        ps.forall { p0 =>
          // normalize through UTF-8 the way UTF8String does (a lone
          // surrogate becomes '?') so the envelope test agrees with
          // the byte-level comparison Spark's residual filter applies
          val p = new String(p0.getBytes("UTF-8"), "UTF-8")
          hi.compareTo(p) >= 0 &&
            DruidScan.prefixSucc(p).forall(s => lo.compareTo(s) < 0)
        }
      }
    }

  /** All-null segment pruning for IS NOT NULL: when the manifest
    * carries null counts, a segment where every row of the column is
    * null (or that predates the column entirely) is skipped at
    * planning — the reader-level trailer skip never even schedules.
    */
  private def notNullAdmit(m: SegMeta): Boolean =
    m.nullCounts match {
      case None => true
      case Some(nc) => notNullCols.forall(c =>
        nc.getOrElse(c, m.rows.toLong) < m.rows.toLong)
    }

  /** Conservative could-this-segment-hold-a-match test for arbitrary
    * filter trees — the disjunctive complement of the conjunctive
    * bound maps above. Unknown shapes answer true; every leaf uses the
    * same metadata (interval, zones, envelopes, null counts) as the
    * specialized paths, so an OR of prunable predicates prunes when NO
    * branch could match. Rows always stay residual-verified.
    */
  private def couldMatch(f: Filter, m: SegMeta): Boolean = f match {
    case Or(a, b) => couldMatch(a, m) || couldMatch(b, m)
    case And(a, b) => couldMatch(a, m) && couldMatch(b, m)
    case EqualTo("__time", v) => DruidScanBuilder.millis(v)
      .forall(t => t >= m.startMs && t < m.endMs)
    case GreaterThan("__time", v) =>
      DruidScanBuilder.millis(v).forall(t => m.endMs > t)
    case GreaterThanOrEqual("__time", v) =>
      DruidScanBuilder.millis(v).forall(t => m.endMs > t)
    case LessThan("__time", v) =>
      DruidScanBuilder.millis(v).forall(t => m.startMs < t)
    case LessThanOrEqual("__time", v) =>
      DruidScanBuilder.millis(v).forall(t => m.startMs <= t)
    case EqualTo(c, v: String) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0
      }
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        vs.exists { case v: String =>
          v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0
        }
      }
    case StringStartsWith(c, p) if p.nonEmpty =>
      m.strZones.get(c).forall { case (lo, hi) =>
        hi.compareTo(p) >= 0 &&
          DruidScan.prefixSucc(p).forall(s => lo.compareTo(s) < 0)
      }
    case EqualTo(c, v) => DruidScanBuilder.numericOpt(v).forall { d =>
      m.zones.get(c).forall { case (lo, hi) => d >= lo && d <= hi }
    }
    case In(c, vs) if vs.nonEmpty =>
      val ds = vs.toSeq.flatMap(DruidScanBuilder.numericOpt)
      ds.length != vs.length || m.zones.get(c).forall { case (lo, hi) =>
        ds.exists(d => d >= lo && d <= hi)
      }
    case GreaterThan(c, v) => DruidScanBuilder.numericOpt(v).forall(d =>
      m.zones.get(c).forall(_._2 >= d))
    case GreaterThanOrEqual(c, v) => DruidScanBuilder.numericOpt(v).forall(d =>
      m.zones.get(c).forall(_._2 >= d))
    case LessThan(c, v) => DruidScanBuilder.numericOpt(v).forall(d =>
      m.zones.get(c).forall(_._1 <= d))
    case LessThanOrEqual(c, v) => DruidScanBuilder.numericOpt(v).forall(d =>
      m.zones.get(c).forall(_._1 <= d))
    case IsNotNull(c) => m.nullCounts.forall(nc =>
      nc.getOrElse(c, 0L) < m.rows.toLong)
    case IsNull(c) => m.nullCounts.forall(nc => nc.getOrElse(c, 1L) > 0L)
    case _ => true // unknown shape: cannot prune on it
  }

  private def orAdmit(m: SegMeta): Boolean =
    orFilters.forall(couldMatch(_, m))

  /** Lexicographic-bound segment test against the string envelopes: a
    * lower bound can only match if the envelope's hi reaches it, an
    * upper bound if the lo stays below it. Applied ONLY when bound and
    * envelope edge are pure ASCII, where the envelope's Java
    * `compareTo` order and the row-level UTF-8 byte order provably
    * coincide — beyond ASCII the two orders can diverge (chars above
    * U+E000) and a mis-ordered envelope could prune a matching
    * segment, which the residual cannot resurrect. Non-lexicographic
    * orderings never prune here: the envelope is lexicographic and
    * says nothing about e.g. version order.
    */
  private def boundZonesAdmit(m: SegMeta): Boolean =
    boundFilters.forall { case (c, bs) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        def ascii(s: String) = s.forall(_ < 128)
        bs.forall { b =>
          (b.ordering != "lexicographic" && b.ordering.nonEmpty) || {
            b.lower.forall(lb => !ascii(lb) || !ascii(hi) ||
              (if (b.lowerStrict) hi.compareTo(lb) > 0
               else hi.compareTo(lb) >= 0)) &&
            b.upper.forall(ub => !ascii(ub) || !ascii(lo) ||
              (if (b.upperStrict) lo.compareTo(ub) < 0
               else lo.compareTo(ub) <= 0))
          }
        }
      }
    }

  private def admit(m: SegMeta): Boolean =
    m.startMs <= timeMaxMs && m.endMs > timeMinMs &&
      zonesAdmit(m) && strZonesAdmit(m) && prefixZonesAdmit(m) &&
      boundZonesAdmit(m) && notNullAdmit(m) && orAdmit(m)

  /** Top-N-by-__time segment cut. Sound because: take segments from
    * the time-extreme end until they hold >= k rows; every taken row's
    * time is inside its segment interval, so >= k rows lie past the
    * cutoff (the taken set's far interval edge); any true top-k row
    * therefore lies past the cutoff too, and every segment whose
    * interval crosses the cutoff is included. Overlapping intervals
    * only ADD segments, never lose rows.
    */
  private def topNCut(metas: Seq[SegMeta]): Seq[SegMeta] = topNTime match {
    case None => metas
    case Some((desc, k)) =>
      val ordered =
        if (desc) metas.sortBy(-_.endMs) else metas.sortBy(_.startMs)
      var acc = 0L
      val taken = ordered.takeWhile { m =>
        val need = acc < k
        acc += m.rows
        need
      }
      if (taken.isEmpty || acc < k) metas // fewer than k rows: scan all
      else {
        val cutoff =
          if (desc) taken.map(_.startMs).min else taken.map(_.endMs).max
        metas.filter(m => if (desc) m.endMs > cutoff else m.startMs < cutoff)
      }
  }

  private def prunedSegments: Seq[SegMeta] =
    topNCut(segmentMeta.filter(admit))

  /** Row-range splits for the given segments — shared by the batch
    * path and the micro-batch streaming source. Every split carries
    * its segment's day key so day-aligned tables can report
    * KeyGroupedPartitioning (storage-partitioned joins).
    */
  private def splitsFor(segs: Seq[SegMeta]): Array[InputPartition] = {
    val parts = segs.flatMap { m =>
      // split on row ranges; readers decode only the compressed blocks
      // covering their range, so splits parallelize within one segment
      val per = math.max(1, math.min(rowsPerSplit, Int.MaxValue.toLong).toInt)
      val capped = if (limit >= 0) math.min(m.rows, limit) else m.rows
      val key = alignment.map(g => DruidScan.bucketKey(g, m.startMs)).getOrElse(0)
      (0 until capped by per).map { start =>
        DruidInputPartition(m.dir, start, math.min(capped, start + per), limit,
          dimFilters, notNullCols, isNullCols, prefixFilters,
          patternFilters, key, orFilters, boundFilters, mvContains,
          nestedEq, lease)
      }
    }
    parts.toArray
  }

  /** Storage-partitioned-join readiness. The partition transform comes
    * from the DECLARED segmentGranularity when every segment carries
    * the same one (validated against the intervals, never trusted
    * blindly) — inference from the intervals alone could report
    * `hours` for a day-granularity table whose rows happen to cluster
    * within an hour per day, and the transform mismatch against a
    * sibling day table would silently forfeit the exchange-free join.
    * Undeclared (foreign / unbucketed) tables fall back to the FINEST
    * calendar granularity (hour < day < month) whose buckets contain
    * every segment interval whole. None when segments straddle month
    * bounds (week/year tables join through a shuffle).
    *
    * Known limit: a declared table joined against an UNDECLARED one
    * whose inference lands on a different granularity plans through a
    * shuffle (correct, just not exchange-free) — the transform is
    * table metadata, and only declaration can guarantee two tables
    * agree on it. Declare segmentGranularity on both sides for a
    * guaranteed SPJ; tables written before the writer recorded
    * granularity re-gain it on their next overwrite/compaction.
    */
  private lazy val alignment: Option[String] =
    if (segmentMeta.isEmpty || !segmentMeta.forall(_.exactInterval)) None
    else {
      def contained(g: String): Boolean = segmentMeta.forall(m =>
        DruidScan.bucketKey(g, m.startMs) ==
          DruidScan.bucketKey(g, m.endMs - 1))
      val declared = segmentMeta.map(_.granularity).distinct match {
        case Seq(Some(g)) => DruidScan.spjTransformOf(g).filter(contained)
        case _ => None
      }
      declared.orElse(
        Seq("hours", "days", "months").find(contained))
    }

  /** Granularity-keyed partitioning for druid-druid joins on `__time`:
    * when both sides are same-granularity tables resolved through a
    * catalog that serves the hours/days/months functions (GraftCatalog),
    * Spark's storage-partitioned join planning sees compatible
    * KeyGroupedPartitioning on each side and plans the join with ZERO
    * exchanges — co-located by layout, the DSv2 answer to bucketing.
    */
  private def spjClaimable: Boolean =
    !aggPushed && groupByDim.isEmpty && topNTime.isEmpty &&
      limit < 0 && alignment.isDefined &&
      required.fieldNames.contains("__time")

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (spjClaimable) {
      val t = alignment.get match {
        case "hours" => Expressions.hours("__time")
        case "days" => Expressions.days("__time")
        case "months" => Expressions.months("__time")
      }
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(t), splitsFor(prunedSegments).length)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  /** Streaming tail of the segment table: micro-batches are the
    * set-difference of segment names between offsets, with the same
    * pushed pruning and split shape as the batch scan. Requires the
    * table to be append-only while tailed (see DruidMicroBatchStream).
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!aggPushed, "aggregate pushdown is a batch-only shape")
    new DruidMicroBatchStream(root, admit, splitsFor,
      () => createReaderFactory())
  }

  override def planInputPartitions(): Array[InputPartition] = {
    groupByDim.foreach { dim =>
      // one partition per segment, each emitting its dictionary's
      // (value, count) pairs — O(dictionary), not O(rows)
      return prunedSegments.map { m =>
        GroupByDimPartition(m.dir, dim, pushedAggs.size, m.rows): InputPartition
      }.toArray
    }
    if (aggPushed) {
      // answers from the memoized (interval, rows) metadata only; the
      // builder verified exactInterval before pushing min/max. Interval
      // is [min, max+1] millis; timestamps are internal micros.
      val segs = segmentMeta
      val values: Array[Any] = pushedAggs.map {
        case "count" => segs.map(_.rows.toLong).sum: java.lang.Long
        case k if k.startsWith("count:") =>
          // builder verified every segment carries nullCounts; a
          // missing key = schema-evolved segment without the column =
          // zero non-null rows there
          val c = k.stripPrefix("count:")
          segs.map(m => m.rows.toLong -
            m.nullCounts.get.getOrElse(c, m.rows.toLong)).sum: java.lang.Long
        case "min_time" =>
          if (segs.isEmpty) null
          else (segs.map(_.startMs).min * 1000L): java.lang.Long
        case "max_time" =>
          if (segs.isEmpty) null
          else ((segs.map(_.endMs).max - 1) * 1000L): java.lang.Long
        case k if k.startsWith("min:") || k.startsWith("max:") =>
          // builder verified every segment has the exact zone or is
          // all-null for the column; all-null segments contribute
          // nothing (min/max skip nulls), no contributions -> null
          val isMin = k.startsWith("min:")
          val col = k.drop(6)
          k.charAt(4) match {
            case 'L' =>
              val vs = segs.flatMap(_.exactLongZones.get(col))
                .map(z => if (isMin) z._1 else z._2)
              if (vs.isEmpty) null
              else (if (isMin) vs.min else vs.max): java.lang.Long
            case t =>
              val vs = segs.flatMap(_.exactDoubleZones.get(col))
                .map(z => if (isMin) z._1 else z._2)
              if (vs.isEmpty) null
              else if (t == 'F')
                (if (isMin) vs.min else vs.max).toFloat: java.lang.Float
              else (if (isMin) vs.min else vs.max): java.lang.Double
          }
        case k if k.startsWith("sum:") =>
          val col = k.drop(6)
          val vs = segs.flatMap(_.longSums.get(col))
          if (vs.isEmpty) null else (vs.sum: java.lang.Long)
      }.toArray
      return Array(MetaAggPartition(values))
    }
    splitsFor(prunedSegments)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DruidPartitionReaderFactory(required)

  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val totalRows =
      if (aggPushed) 1L else prunedSegments.map(_.rows.toLong).sum
    // ~bytes per row from schema (strings estimated at 16B)
    private lazy val rowBytes = required.fields.map(_.dataType match {
      case StringType => 16L
      case DoubleType | LongType | TimestampType => 8L
      case FloatType => 4L
      case _ => 16L
    }).sum.max(1L)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(totalRows * rowBytes)
    override def numRows(): OptionalLong = OptionalLong.of(totalRows)
  }
}

object DruidScan {
  /** Rows per columnar batch a split's reader fills. */
  val BatchSize = 4096

  /** Smallest string greater than every string starting with `p`: bump
    * the last non-max char and drop the tail. None when every char is
    * Char.MaxValue (no finite successor — only the lower bound prunes).
    */
  private[druid] def prefixSucc(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** SPJ partition transform implied by a declared segmentGranularity:
    * sub-hour granularities are hour-contained so they key by hours;
    * week/year buckets straddle month bounds — no calendar transform
    * below them holds, those tables join through a shuffle.
    */
  private[druid] def spjTransformOf(segmentGranularity: String): Option[String] =
    segmentGranularity match {
      case "minute" | "fifteen_minute" | "hour" => Some("hours")
      case "day" => Some("days")
      case "month" => Some("months")
      case _ => None
    }

  /** Buckets-since-epoch (UTC) of an epoch-millis instant for the SPJ
    * partition transforms — must agree exactly with the catalog's
    * hours/days/months ScalarFunctions (GraftCatalog), which evaluate
    * the same transform over micros on the query side.
    */
  private[druid] def bucketKey(granularity: String, ms: Long): Int =
    granularity match {
      case "hours" => Math.floorDiv(ms, 3600000L).toInt
      case "days" => Math.floorDiv(ms, 86400000L).toInt
      case "months" =>
        val d = java.time.Instant.ofEpochMilli(ms)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
      case other =>
        throw new IllegalArgumentException(s"unknown SPJ granularity $other")
    }
}
