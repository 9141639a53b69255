package graft.sources.druid

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** One predicate pushed into a druid scan, in the one form the builder,
  * the scan, its partitions and the reader all carry. This is Druid's
  * filter model: boolean algebra over per-value bitmap indexes, with
  * interval bounds and zone maps as the segment-level test. Two
  * interpreters read it:
  *  - [[ScanPred.couldMatch]]: could a segment hold a matching row,
  *    judged from its planning metadata alone (interval, numeric zones,
  *    string envelopes, null counts);
  *  - [[RowSelection.bitmapOf]]: a superset of one split's matching
  *    rows from the segment's bitmaps, or None where they cannot say.
  * Both answer conservatively. Spark keeps every filter as the residual
  * and re-checks each row, so a predicate only ever prunes storage.
  *
  * V1 filters enter once, through [[ScanPred.of]] (the builder's
  * pushFilters and the scan's runtime filter()). The predicates with no
  * V1 form (MvContains, NestedEq, DimBound under another ordering or
  * inside an MV dim's `exists`) come from graft.plans.MvBitmapRewrite
  * through [[DruidScan.withPredicates]]. Predicates are kept canonical
  * (value lists distinct and sorted), so equal ones are equal values.
  */
sealed trait ScanPred extends Serializable

/** Every branch holds. */
final case class AllOf(preds: Seq[ScanPred]) extends ScanPred
/** Some branch holds. */
final case class AnyOf(preds: Seq[ScanPred]) extends ScanPred
/** `__time` in [lo, hi] epoch millis, both inclusive. */
final case class TimeRange(lo: Long, hi: Long) extends ScanPred
/** A numeric column in [lo, hi], both inclusive. */
final case class NumRange(col: String, lo: Double, hi: Double) extends ScanPred
/** A string column equal to one of `values`. */
final case class StrValues(col: String, values: Seq[String]) extends ScanPred
/** A string column starting with `prefix` (LIKE 'p%'). */
final case class StrPrefix(col: String, prefix: String) extends ScanPred
/** A string column containing (kind "contains") or ending with (kind
  * "ends") `pattern`: tested once per dictionary value, never per row.
  */
final case class StrMatch(col: String, kind: String, pattern: String) extends ScanPred
/** The column is not null. */
final case class NotNull(col: String) extends ScanPred
/** The column is null. */
final case class NullOnly(col: String) extends ScanPred
/** A multi-value column contains one of `values` (Druid's selector
  * semantics on a multi-value dimension).
  */
final case class MvContains(col: String, values: Seq[String]) extends ScanPred
/** A nested json column's field at `path` (a simple dot path) renders
  * as one of `values`.
  */
final case class NestedEq(col: String, path: String, values: Seq[String]) extends ScanPred

/** A comparator bound on a string dimension, evaluated ONCE PER
  * DICTIONARY VALUE at the reader (Druid's bound-filter execution:
  * comparator over the dictionary, qualifying-id bitmap union) — never
  * per row. Orderings: lexicographic, strlen, alphanumeric, version.
  * A plain string range (`s >= 'x'`) enters as a lexicographic bound;
  * a bound under another StringComparator, or inside an MV dim's
  * `exists`, has no V1 Filter form, so graft.plans.MvBitmapRewrite
  * derives it from the Filter's Catalyst predicate. That predicate
  * stays the residual, so the bitmap only needs to be a superset — it
  * is in fact exact, which the probe spec pins.
  */
final case class DimBound(col: String, ordering: String,
                          lower: Option[String], lowerStrict: Boolean,
                          upper: Option[String], upperStrict: Boolean)
    extends ScanPred {
  def lexicographic: Boolean = ordering == "lexicographic" || ordering.isEmpty
}

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

object ScanPred {
  /** The canonical form: value lists distinct and sorted. */
  def canon(p: ScanPred): ScanPred = p match {
    case AllOf(ps) => AllOf(ps.map(canon).toList)
    case AnyOf(ps) => AnyOf(ps.map(canon).toList)
    case StrValues(c, vs) => StrValues(c, vs.distinct.sorted.toList)
    case MvContains(c, vs) => MvContains(c, vs.distinct.sorted.toList)
    case NestedEq(c, path, vs) => NestedEq(c, path, vs.distinct.sorted.toList)
    case other => other
  }

  /** The predicate a V1 filter over a table of `schema` pushes, if the
    * scan can use it. A range or IN on `__time` is one interval; an
    * exclusive bound on an exact millisecond moves past it, while a
    * sub-millisecond bound keeps its floored millisecond (druid time is
    * millisecond-grained, so that millisecond can still match). A
    * numeric IN is one point range per value. An OR holds only if both
    * sides translate; an AND keeps whichever sides do. A null in an IN
    * list never matches, so it is dropped.
    */
  def of(f: Filter, schema: StructType): Option[ScanPred] = {
    def field(c: String) = schema.fields.find(_.name == c)
    // COMPLEX-backed string columns (json) carry no dictionary/bitmaps
    def isString(c: String) = field(c).exists(f =>
      f.dataType == StringType && !f.metadata.contains("druid.complexType"))
    def isNumeric(c: String) = c != "__time" && field(c).exists(f =>
      f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType || f.dataType == FloatType)
    def isNullable(c: String) = c != "__time" && field(c).isDefined
    def bound(c: String, v: String, lower: Boolean, strict: Boolean) =
      if (lower) DimBound(c, "lexicographic", Some(v), strict, None, upperStrict = false)
      else DimBound(c, "lexicographic", None, lowerStrict = false, Some(v), strict)
    def num(c: String, v: Any, lower: Boolean, upper: Boolean) =
      numeric(v).map(d => NumRange(c, if (lower) d else Double.NegativeInfinity,
        if (upper) d else Double.PositiveInfinity))
    def values(vs: Array[Any]) = vs.toSeq.filter(_ != null)
    f match {
      case Or(a, b) =>
        for (x <- of(a, schema); y <- of(b, schema)) yield AnyOf(Seq(x, y).flatMap {
          case AnyOf(ps) => ps
          case p => Seq(p)
        }.toList)
      case And(a, b) => (of(a, schema), of(b, schema)) match {
        case (Some(x), Some(y)) => Some(AllOf(Seq(x, y).flatMap {
          case AllOf(ps) => ps
          case p => Seq(p)
        }.toList))
        case (x, y) => x.orElse(y)
      }
      case GreaterThan("__time", v) =>
        exactMillis(v).map(_ + 1).orElse(millis(v)).map(TimeRange(_, Long.MaxValue))
      case GreaterThanOrEqual("__time", v) => millis(v).map(TimeRange(_, Long.MaxValue))
      case LessThan("__time", v) =>
        exactMillis(v).map(_ - 1).orElse(millis(v)).map(TimeRange(Long.MinValue, _))
      case LessThanOrEqual("__time", v) => millis(v).map(TimeRange(Long.MinValue, _))
      case EqualTo("__time", v) => millis(v).map(m => TimeRange(m, m))
      case In("__time", vs) =>
        val ms = values(vs).flatMap(millis)
        if (ms.isEmpty || ms.length != values(vs).length) None
        else Some(TimeRange(ms.min, ms.max))
      case EqualTo(c, v: String) if isString(c) => Some(StrValues(c, Seq(v)))
      // null-safe equality with a non-null operand prunes like EqualTo;
      // with a null operand it is IS NULL
      case EqualNullSafe(c, v: String) if isString(c) => Some(StrValues(c, Seq(v)))
      case In(c, vs) if isString(c) && values(vs).forall(_.isInstanceOf[String]) =>
        Some(canon(StrValues(c, values(vs).map(_.asInstanceOf[String]))))
      case StringStartsWith(c, p) if isString(c) && p.nonEmpty => Some(StrPrefix(c, p))
      case StringContains(c, v) if isString(c) && v.nonEmpty =>
        Some(StrMatch(c, "contains", v))
      case StringEndsWith(c, v) if isString(c) && v.nonEmpty => Some(StrMatch(c, "ends", v))
      case GreaterThan(c, v: String) if isString(c) => Some(bound(c, v, lower = true, strict = true))
      case GreaterThanOrEqual(c, v: String) if isString(c) =>
        Some(bound(c, v, lower = true, strict = false))
      case LessThan(c, v: String) if isString(c) => Some(bound(c, v, lower = false, strict = true))
      case LessThanOrEqual(c, v: String) if isString(c) =>
        Some(bound(c, v, lower = false, strict = false))
      case GreaterThan(c, v) if isNumeric(c) => num(c, v, lower = true, upper = false)
      case GreaterThanOrEqual(c, v) if isNumeric(c) => num(c, v, lower = true, upper = false)
      case LessThan(c, v) if isNumeric(c) => num(c, v, lower = false, upper = true)
      case LessThanOrEqual(c, v) if isNumeric(c) => num(c, v, lower = false, upper = true)
      case EqualTo(c, v) if isNumeric(c) => num(c, v, lower = true, upper = true)
      case EqualNullSafe(c, v) if v != null && isNumeric(c) =>
        num(c, v, lower = true, upper = true)
      case In(c, vs) if isNumeric(c) =>
        val ds = values(vs).flatMap(numeric)
        if (ds.length != values(vs).length) None
        else Some(ds.distinct.sorted.map(d => NumRange(c, d, d)) match {
          case Seq(one) => one
          case points => AnyOf(points.toList)
        })
      case IsNotNull(c) if isNullable(c) => Some(NotNull(c))
      case IsNull(c) if isNullable(c) => Some(NullOnly(c))
      case EqualNullSafe(c, null) if isNullable(c) => Some(NullOnly(c))
      case _ => None
    }
  }

  /** Could a segment with planning metadata `m` hold a row matching
    * `p`? A test with no metadata to go on answers true.
    */
  def couldMatch(p: ScanPred, m: SegMeta): Boolean = p match {
    case AllOf(ps) => ps.forall(couldMatch(_, m))
    case AnyOf(ps) => ps.exists(couldMatch(_, m))
    case TimeRange(lo, hi) => m.startMs <= hi && m.endMs > lo
    case NumRange(c, lo, hi) =>
      m.zones.get(c).forall { case (zlo, zhi) => zhi >= lo && zlo <= hi }
    // the string envelopes compare with Java `compareTo`, matching the
    // write side: a value outside [lo, hi] is in no row
    case StrValues(c, vs) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        vs.exists(v => v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0)
      }
    // a value starts with p only if p <= value < succ(p); the prefix is
    // normalized through UTF-8 the way UTF8String does (a lone surrogate
    // becomes '?'), so the test agrees with Spark's residual
    case StrPrefix(c, p0) =>
      m.strZones.get(c).forall { case (lo, hi) =>
        val p = new String(p0.getBytes("UTF-8"), "UTF-8")
        hi.compareTo(p) >= 0 && prefixSucc(p).forall(s => lo.compareTo(s) < 0)
      }
    // only where bound and envelope edge are pure ASCII, where the
    // envelope's `compareTo` order and the rows' UTF-8 byte order
    // provably coincide; beyond ASCII they diverge (chars above
    // U+E000). Other orderings never prune: the envelope is
    // lexicographic and says nothing about e.g. version order.
    case b: DimBound if b.lexicographic =>
      m.strZones.get(b.col).forall { case (lo, hi) =>
        def ascii(s: String) = s.forall(_ < 128)
        b.lower.forall(lb => !ascii(lb) || !ascii(hi) ||
          (if (b.lowerStrict) hi.compareTo(lb) > 0 else hi.compareTo(lb) >= 0)) &&
        b.upper.forall(ub => !ascii(ub) || !ascii(lo) ||
          (if (b.upperStrict) lo.compareTo(ub) < 0 else lo.compareTo(ub) <= 0))
      }
    // a missing key under a present null-count map: the segment
    // predates the column, every row is null there
    case NotNull(c) =>
      m.nullCounts.forall(nc => nc.getOrElse(c, m.rows.toLong) < m.rows.toLong)
    case NullOnly(c) => m.nullCounts.forall(nc => nc.getOrElse(c, 1L) > 0L)
    case _ => true
  }

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

  /** Filter value as a double bound; None for NaN (sorts above +Inf in
    * Spark — a range can't express it) and non-numerics.
    */
  private def numeric(v: Any): Option[Double] = v match {
    case d: java.lang.Double => if (d.isNaN) None else Some(d)
    case f: java.lang.Float => if (f.isNaN) None else Some(f.toDouble)
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Filter value -> epoch millis (floored), covering TZ
    * (Timestamp/Instant), NTZ (LocalDateTime; session TZ is UTC) and
    * raw long values.
    */
  private def millis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case d: java.time.LocalDateTime =>
      Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    case l: Long => Some(l)
    case _ => None
  }

  /** Like millis, but only when the value sits EXACTLY on a millisecond. */
  private def exactMillis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp if t.getNanos % 1000000 == 0 => Some(t.getTime)
    case i: java.time.Instant if i.getNano % 1000000 == 0 => Some(i.toEpochMilli)
    case d: java.time.LocalDateTime if d.getNano % 1000000 == 0 =>
      Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    case l: Long => Some(l)
    case _ => None
  }
}
