package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Imperative, codegen-callable implementations of the two EXPENSIVE
  * Druid StringComparators (version, alphanumeric).
  *
  * The bound-filter path originally evaluated these as interpreted
  * higher-order Catalyst chains (regex split → transform → aggregate
  * fold per ROW — [[graft.query.NativeQuery.versionKey]]); correct,
  * but the interpreted HOF tower dominated dr62-shaped scans (8.3×
  * growth at 10× data). These statics are one tight JVM call per row,
  * invoked from generated code, so the filter stays inside
  * whole-stage codegen. The HOF encodings remain as the independent
  * cross-check implementations their property specs compare against
  * (VersionKeySpec / AlphanumKeySpec), and as the ORDER KEYS for
  * sort paths (which need an orderable column, not a comparison).
  *
  * Reference: Druid's StringComparators.VERSION delegates to Maven's
  * DefaultArtifactVersion; ALPHANUMERIC is Koelle's Alphanum. The
  * reference repo delegates both to DataFusion and supports neither
  * (reference src/query/mod.rs — no comparator orderings at all).
  */
object VersionOrder {

  /** A parsed version: parallel arrays of (rank, number, qualifier)
    * items — the same item model as the HOF key encoding. Top-level
    * class so generated Java can name the type.
    */
  def parse(s: String): VersionItems = {
    val lower = s.toLowerCase
    // collect items per dash-segment, trailing-trimming each segment
    val ranks = new java.util.ArrayList[Integer]()
    val nums = new java.util.ArrayList[java.lang.Long]()
    val strs = new java.util.ArrayList[String]()
    var segStart = 0
    var i = 0
    val n = lower.length
    while (i <= n) {
      if (i == n || lower.charAt(i) == '-') {
        appendSegment(lower, segStart, i, ranks, nums, strs)
        segStart = i + 1
      }
      i += 1
    }
    // explicit release terminator: a shorter version with a qualifier
    // sorts BELOW the bare release (1.2-alpha < 1.2 < 1.2.1)
    ranks.add(5); nums.add(0L); strs.add("")
    val m = ranks.size
    val r = new Array[Int](m); val nn = new Array[Long](m)
    val ss = new Array[String](m)
    var k = 0
    while (k < m) { r(k) = ranks.get(k); nn(k) = nums.get(k); ss(k) = strs.get(k); k += 1 }
    new VersionItems(r, nn, ss)
  }

  /** Tokenize one dash-segment [from, until) on '.' and digit↔non-digit
    * transitions, classify each token, and append the segment's items
    * with its trailing "null" items (numeric 0 / release-rank) dropped —
    * Maven's normalization at '-' boundaries.
    */
  private def appendSegment(s: String, from: Int, until: Int,
                            ranks: java.util.ArrayList[Integer],
                            nums: java.util.ArrayList[java.lang.Long],
                            strs: java.util.ArrayList[String]): Unit = {
    val base = ranks.size
    var tokStart = from
    var i = from
    def isDigit(c: Char) = c >= '0' && c <= '9'
    def emit(end: Int): Unit = {
      val t = s.substring(tokStart, end)
      classify(t, ranks, nums, strs)
      tokStart = end
    }
    while (i <= until) {
      if (i == until) { emit(i) }
      else if (s.charAt(i) == '.') { emit(i); tokStart = i + 1 }
      else if (i > tokStart) {
        // digit↔non-digit transition (neither side is '.')
        val prev = s.charAt(i - 1); val cur = s.charAt(i)
        if (prev != '.' && cur != '.' && isDigit(prev) != isDigit(cur)) emit(i)
      }
      i += 1
    }
    // trailing-trim this segment's items
    var last = ranks.size - 1
    while (last >= base &&
           ((ranks.get(last) == 8 && nums.get(last) == 0L) ||
            ranks.get(last) == 5)) {
      ranks.remove(last); nums.remove(last); strs.remove(last)
      last -= 1
    }
  }

  private def classify(t: String,
                       ranks: java.util.ArrayList[Integer],
                       nums: java.util.ArrayList[java.lang.Long],
                       strs: java.util.ArrayList[String]): Unit = {
    var allDigits = t.nonEmpty
    var i = 0
    while (allDigits && i < t.length) {
      val c = t.charAt(i)
      if (c < '0' || c > '9') allDigits = false
      i += 1
    }
    if (allDigits) {
      // digit runs beyond Long.MaxValue clamp, like the HOF encoding
      val v =
        if (t.length <= 18) java.lang.Long.parseLong(t)
        else try java.lang.Long.parseLong(t)
        catch { case _: NumberFormatException => Long.MaxValue }
      ranks.add(8); nums.add(v); strs.add("")
    } else {
      val (rank, str) = t match {
        case "alpha"                         => (0, "")
        case "beta"                          => (1, "")
        case "milestone"                     => (2, "")
        case "rc" | "cr"                     => (3, "")
        case "snapshot"                      => (4, "")
        case "" | "ga" | "final" | "release" => (5, "")
        case "sp"                            => (6, "")
        case other                           => (7, other)
      }
      ranks.add(rank); nums.add(0L); strs.add(str)
    }
  }

  def compare(a: VersionItems, b: VersionItems): Int = {
    val n = math.min(a.ranks.length, b.ranks.length)
    var i = 0
    while (i < n) {
      if (a.ranks(i) != b.ranks(i)) return Integer.compare(a.ranks(i), b.ranks(i))
      if (a.nums(i) != b.nums(i)) return java.lang.Long.compare(a.nums(i), b.nums(i))
      val c = a.strs(i).compareTo(b.strs(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.ranks.length, b.ranks.length)
  }

  /** The per-row entry generated code calls: parse the row value and
    * three-way compare against the pre-parsed bound.
    */
  def compareTo(value: UTF8String, bound: VersionItems): Int =
    compare(parse(value.toString), bound)

  /** Driver-side convenience for dictionary-side evaluation. */
  def compareStrings(a: String, b: String): Int = compare(parse(a), parse(b))
}

/** Parsed version item list (parallel arrays). Top-level so generated
  * Java can reference the type by name.
  */
final class VersionItems(val ranks: Array[Int], val nums: Array[Long],
                         val strs: Array[String]) extends Serializable

/** Koelle-Alphanum ORDER KEY, imperative form — identical encoding to
  * [[graft.query.NativeQuery.alphanumKeyOf]] (the property spec pins
  * both against an independent chunk-wise comparator).
  */
object Alphanum {
  def keyOf(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch >= '0' && ch <= '9') {
        var j = i
        while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
        // leading zeros drop entirely ("000" -> ""), like the mirror
        var k = i
        while (k < j && s.charAt(k) == '0') k += 1
        val len = j - k
        sb.append('0').append((32 + len).toChar)
        sb.append(s, k, j)
        i = j
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  def key(s: UTF8String): UTF8String = UTF8String.fromString(keyOf(s.toString))

  /** A value whose key is `key`, or None when no value has that key.
    * The compiled alphanumeric bound carries only the key; this turns
    * it back into a bound value for the dictionary-side comparator.
    * Digit runs come back without their leading zeros ("a007" and
    * "a7" share a key), which is the same bound under this ordering.
    */
  def valueOf(key: String): Option[String] = {
    val sb = new java.lang.StringBuilder(key.length)
    var i = 0
    while (i < key.length) {
      val ch = key.charAt(i)
      if (ch >= '0' && ch <= '9') {
        // a digit run: '0', chr(32 + len), len digits ("0" if len is 0)
        if (ch != '0' || i + 1 >= key.length) return None
        val end = i + 2 + (key.charAt(i + 1) - 32)
        if (end < i + 2 || end > key.length) return None
        if (end == i + 2) sb.append('0') else sb.append(key, i + 2, end)
        i = end
      } else { sb.append(ch); i += 1 }
    }
    // rejects what no value encodes to (non-digits in a run, a leading
    // zero, two adjacent runs)
    Some(sb.toString).filter(keyOf(_) == key)
  }
}

/** `version_cmp(col, boundLiteral) -> int`: three-way Maven-version
  * comparison of a string column against a CONSTANT bound, parsed once
  * per expression instance (driver side and again per executor on
  * deserialization) instead of per row. Codegen-friendly: the
  * generated code is a single static call, so bound filters stay
  * inside whole-stage codegen.
  */
case class VersionCmp(child: Expression, bound: String)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("version_cmp", child)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val boundItems: VersionItems = VersionOrder.parse(bound)

  override def nullSafeEval(input: Any): Any =
    VersionOrder.compareTo(input.asInstanceOf[UTF8String], boundItems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("versionBound", boundItems,
      "graft.sql.VersionItems")
    defineCodeGen(ctx, ev, c => s"graft.sql.VersionOrder.compareTo($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): VersionCmp =
    copy(child = c)
}

object VersionCmp {
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "version_cmp expects (column, bound literal)")
    val bound = exprs(1) match {
      case Literal(v: UTF8String, StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"version_cmp bound must be a STRING literal, got $other")
    }
    VersionCmp(exprs.head, bound)
  }
}

/** `alphanum_key(col) -> string`: the order-preserving alphanumeric
  * key as one static call per row (the literal side of a bound is
  * precomputed driver-side with [[Alphanum.keyOf]]).
  */
case class AlphanumKey(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("alphanum_key", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Alphanum.key(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.Alphanum.key($c)")

  override protected def withNewChildInternal(c: Expression): AlphanumKey =
    copy(child = c)
}

object AlphanumKey {
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "alphanum_key expects one argument")
    AlphanumKey(exprs.head)
  }
}
