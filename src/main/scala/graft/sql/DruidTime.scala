package graft.sql

import java.sql.Timestamp
import java.time.{DateTimeException, Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeParseException

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Druid's time vocabulary, read in one place: ISO-8601 instants,
  * intervals and periods, the simple granularity names, and the one
  * bucket floor. Druid SQL's TIME_* functions, native-query intervals
  * and granularities (and their `timestamp_floor` virtual columns), the
  * writer's segment and query granularity, and the broker's intervals,
  * retention rules and PARTITIONED BY all read time through here.
  *
  * The floor is Druid's `PeriodGranularity`: bucket k starts at
  * origin + k·period, for every integer k. It has one evaluator, the
  * scalar [[Granularity.floor]], which the writer and spine bounds call
  * and which TIME_FLOOR / TIME_CEIL, native granularities and
  * `timestamp_floor` reach through one codegen-able node, [[TimeFloor]].
  * One lattice test, [[Granularity.coarserOrEqual]], tells rollup
  * routing when one floor's buckets are unions of another's.
  *
  * How the lattice is walked, as Druid's Joda chronology does:
  *  - calendar months (P1M, P3M, P1Y) step on the zone's local
  *    calendar; a boundary keeps the origin's day of month, clamped to
  *    each month's length per boundary (Jan 31 + 1M = Feb 28/29,
  *    + 2M = Mar 31), and its time of day;
  *  - whole days and weeks (P1D, P1W, P2D) step on the local calendar
  *    in a time zone (23/25-hour days across DST), as fixed millis in
  *    UTC;
  *  - every other period (PT15M, PT1H, P2DT6H) steps as fixed millis
  *    on the instant timeline, in any zone;
  *  - with no origin the lattice starts at 1970-01-01T00:00 local
  *    time, except a lone P1W, which starts on a Monday.
  *
  * Documented deviations from Druid:
  *  - a period mixing days with a time part (P1DT6H) in a DST zone
  *    steps as fixed millis; Druid steps its day part on the calendar;
  *  - PT24H is the same period as P1D (Druid keeps 24 precise hours);
  *  - a period mixing months with days or time (P1M15D) is refused for
  *    floors, and valid for shifts, interval ends and cutoffs;
  *  - zoneless instants read as UTC (the engine's session zone), where
  *    Druid uses the broker's default zone;
  *  - outside UTC the lattice refuses a calendar floor over an
  *    instant-stepped one (P1D over PT1H): offsets need not be whole
  *    steps (local mean time, half-hour zones).
  */
object DruidTime {

  private val DayMs = 86400000L

  // ---- periods ------------------------------------------------------------

  /** An ISO-8601 period as calendar months plus fixed millis (a week
    * counts 7 days, a day 24 hours; [[Granularity]] walks whole days on
    * a zone's calendar). `isoWeek` marks the lone P1W, which floors to
    * Monday when no origin is given.
    */
  final case class Period(months: Int, millis: Long, isoWeek: Boolean = false) {
    /** ISO text of a month-only or millis-only period. */
    def iso: String =
      if (isoWeek) "P1W"
      else if (millis == 0) s"P${months}M"
      else Seq(DayMs -> "P%dD", 3600000L -> "PT%dH", 60000L -> "PT%dM")
        .collectFirst { case (unit, f) if millis % unit == 0 => f.format(millis / unit) }
        .getOrElse(s"PT${java.math.BigDecimal.valueOf(millis, 3).stripTrailingZeros.toPlainString}S")
  }

  private val Num = """([-+]?\d+)"""
  private val PeriodRe =
    (s"(?i)P(?:${Num}Y)?(?:${Num}M)?(?:${Num}W)?(?:${Num}D)?" +
      s"""(?:T(?:${Num}H)?(?:${Num}M)?(?:([-+]?\\d+(?:[.,]\\d+)?)S)?)?""").r

  /** Read an ISO-8601 period (either case, signed fields, fractional
    * seconds).
    */
  def period(s: String): Period = s.trim match {
    case PeriodRe(y, mo, w, d, h, mi, sec) =>
      def l(x: String): Long = if (x == null) 0L else x.toLong
      try {
        val months = Math.toIntExact(Math.addExact(Math.multiplyExact(l(y), 12L), l(mo)))
        val secMillis =
          if (sec == null) 0L else math.round(sec.replace(',', '.').toDouble * 1000)
        val millis = Seq(l(w) -> 7 * DayMs, l(d) -> DayMs, l(h) -> 3600000L, l(mi) -> 60000L)
          .foldLeft(secMillis) { case (acc, (n, unit)) =>
            Math.addExact(acc, Math.multiplyExact(n, unit)) }
        Period(months, millis, s.trim.equalsIgnoreCase("P1W"))
      } catch {
        case _: ArithmeticException =>
          throw new IllegalArgumentException(s"period '$s' overflows")
      }
    case _ => throw new IllegalArgumentException(s"cannot parse ISO-8601 period '$s'")
  }

  /** `ms` moved by `steps` periods in UTC: calendar months first (the
    * day of month clamps, as Joda does), then the fixed millis.
    */
  def shift(ms: Long, p: Period, steps: Int): Long = {
    val m =
      if (p.months == 0) ms
      else Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC)
        .plusMonths(p.months.toLong * steps).toInstant.toEpochMilli
    m + p.millis * steps
  }

  // ---- instants and intervals ---------------------------------------------

  /** Epoch millis of an ISO-8601 instant: `Z` or any offset, a zoneless
    * local datetime (read as UTC, the engine's session zone) or a bare
    * date (its UTC midnight).
    */
  def instant(s: String): Long = {
    val t = s.trim
    Iterator[String => Long](
        Instant.parse(_).toEpochMilli,
        OffsetDateTime.parse(_).toInstant.toEpochMilli,
        LocalDateTime.parse(_).toInstant(ZoneOffset.UTC).toEpochMilli,
        LocalDate.parse(_).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli)
      .flatMap(read => try Some(read(t)) catch { case _: DateTimeParseException => None })
      .nextOption().getOrElse(throw new IllegalArgumentException(
        s"interval timestamp '$s' (ISO-8601 instant, offset/local datetime, or date)"))
  }

  /** A Druid interval, `start/end`, `start/period` or `period/end`, as
    * epoch millis [start, end).
    */
  def interval(s: String): (Long, Long) = s.split("/", -1).map(_.trim) match {
    case Array(a, b) if a.take(1).equalsIgnoreCase("P") =>
      val e = instant(b); (shift(e, period(a), -1), e)
    case Array(a, b) if b.take(1).equalsIgnoreCase("P") =>
      val st = instant(a); (st, shift(st, period(b), 1))
    case Array(a, b) => (instant(a), instant(b))
    case _ => throw new IllegalArgumentException(
      s"interval '$s' (expected ISO start/end, start/period or period/end)")
  }

  /** A time zone id; None for UTC and its aliases. */
  def zone(id: String): Option[ZoneId] =
    try Some(ZoneId.of(id.trim, ZoneId.SHORT_IDS)).filterNot(_.normalized == ZoneOffset.UTC)
    catch { case _: DateTimeException =>
      throw new IllegalArgumentException(s"unknown time zone '$id'") }

  // ---- granularities ------------------------------------------------------

  /** Druid's simple granularity names and the periods they stand for
    * (`all`, one bucket, is no period and not listed).
    */
  val granularityNames: Seq[(String, String)] = Seq(
    "second" -> "PT1S", "minute" -> "PT1M", "five_minute" -> "PT5M",
    "ten_minute" -> "PT10M", "fifteen_minute" -> "PT15M",
    "thirty_minute" -> "PT30M", "hour" -> "PT1H", "six_hour" -> "PT6H",
    "eight_hour" -> "PT8H", "day" -> "P1D", "week" -> "P1W",
    "month" -> "P1M", "quarter" -> "P3M", "year" -> "P1Y")

  /** The UTC granularity a simple name (any case) stands for. */
  def granularity(name: String): Granularity = {
    val n = name.trim.toLowerCase(java.util.Locale.ROOT)
    granularityNames.collectFirst { case (`n`, p) => Granularity(period(p)) }
      .getOrElse(throw new IllegalArgumentException(
        s"granularity '$name' (one of ${granularityNames.map(_._1).mkString(", ")})"))
  }

  /** The simple name of a period, if it has one. */
  def granularityName(p: Period): Option[String] =
    granularityNames.collectFirst { case (n, text) if period(text) == p => n }

  /** Druid's `PeriodGranularity`: buckets start at origin + k·period (see
    * the object doc for how the lattice is walked). `origin` is epoch
    * millis; `zone` None is UTC.
    */
  final case class Granularity(period: Period, origin: Option[Long] = None,
                               zone: Option[ZoneId] = None) {
    require(period.months >= 0 && period.millis >= 0 &&
      (period.months > 0 || period.millis > 0),
      s"period ${period.iso} cannot bucket (it must be positive)")
    require(period.months == 0 || period.millis == 0,
      "a period mixing months with days or time cannot bucket (use one or the other)")

    private val monthly = period.months > 0
    /** Buckets step on the zone's local calendar (else: on instants). */
    private val local = zone.isDefined && (monthly || period.millis % DayMs == 0)

    private def toFrame(ms: Long): Long = zone.filter(_ => local).fold(ms)(z =>
      ms + z.getRules.getOffset(Instant.ofEpochMilli(ms)).getTotalSeconds * 1000L)
    private def fromFrame(f: Long): Long = zone.filter(_ => local).fold(f)(localToUtc(f, _))

    /** The origin in frame millis (local wall clock, or instant). */
    private val frameOrigin: Long = origin.map(toFrame).getOrElse {
      val wall = if (period.isoWeek) 4 * DayMs else 0L // 1970-01-05 was a Monday
      if (local) wall else zone.fold(wall)(localToUtc(wall, _))
    }
    private val originDate = LocalDate.ofEpochDay(Math.floorDiv(frameOrigin, DayMs))
    private val originMonth = monthIndex(originDate)

    /** Frame millis of month boundary k. */
    private def monthBoundary(k: Long): Long = {
      val first = originDate.withDayOfMonth(1).plusMonths(k * period.months)
      first.withDayOfMonth(math.min(originDate.getDayOfMonth, first.lengthOfMonth))
        .toEpochDay * DayMs + Math.floorMod(frameOrigin, DayMs)
    }

    /** The k of the month bucket holding frame millis `f`, or the next. */
    private def monthK(f: Long): Long = Math.floorDiv(
      monthIndex(LocalDate.ofEpochDay(Math.floorDiv(f, DayMs))) - originMonth,
      period.months.toLong)

    /** The k of the bucket holding `ms`. */
    def index(ms: Long): Long = {
      val f = toFrame(ms)
      if (!monthly) Math.floorDiv(f - frameOrigin, period.millis)
      else { val k = monthK(f); if (f < monthBoundary(k)) k - 1 else k }
    }

    /** Epoch millis where bucket k starts. */
    def start(k: Long): Long =
      fromFrame(if (monthly) monthBoundary(k) else frameOrigin + k * period.millis)

    /** Epoch millis where the bucket holding `ms` starts. A month floor
      * reads a second boundary only for a row before its boundary day. */
    def floor(ms: Long): Long =
      if (!local && !monthly) ms - Math.floorMod(ms - frameOrigin, period.millis)
      else if (!monthly) start(index(ms))
      else {
        val f = toFrame(ms)
        val k = monthK(f)
        val b = monthBoundary(k)
        fromFrame(if (f < b) monthBoundary(k - 1) else b)
      }

    /** The floor (or ceiling) of epoch micros `us`: what [[TimeFloor]] evaluates. */
    def micros(us: Long, ceil: Boolean): Long = {
      val ms = Math.floorDiv(us, 1000L)
      val f = floor(ms) * 1000L
      if (!ceil || f == us) f else start(index(ms) + 1) * 1000L
    }

    def atOrigin(us: Long): Granularity = copy(origin = Some(Math.floorDiv(us, 1000L)))

    /** The Catalyst floor of a timestamp column, through TIME_FLOOR. */
    def floor(ts: Column): Column = call_function("time_floor", ts, lit(period.iso),
      origin.fold(lit(null))(o => lit(new Timestamp(o))), lit(zone.map(_.getId).orNull))
  }

  object Granularity {
    /** Every bucket boundary of `g` is one of `r`'s, so that
      * `g.floor(r.floor(t)) == g.floor(t)` for every t: same zone and
      * frame (local calendar or instants), `g` aligned to `r`'s origin.
      */
    def coarserOrEqual(g: Granularity, r: Granularity): Boolean = {
      def aligned(step: Long) = Math.floorMod(g.frameOrigin - r.frameOrigin, step) == 0
      g.zone == r.zone && (g.zone.isEmpty || g.local == r.local) && (
        if (r.monthly) g.monthly && g.period.months % r.period.months == 0 &&
          g.originDate.getDayOfMonth == r.originDate.getDayOfMonth &&
          aligned(DayMs) && Math.floorMod(g.originMonth - r.originMonth, r.period.months.toLong) == 0
        else aligned(r.period.millis) &&
          (if (g.monthly) DayMs % r.period.millis == 0 else g.period.millis % r.period.millis == 0))
    }
  }

  private def monthIndex(d: LocalDate): Long = (d.getYear - 1970L) * 12 + d.getMonthValue - 1

  private def localToUtc(wallMs: Long, z: ZoneId): Long =
    LocalDateTime.ofEpochSecond(Math.floorDiv(wallMs, 1000L),
      (Math.floorMod(wallMs, 1000L) * 1000000L).toInt, ZoneOffset.UTC)
      .atZone(z).toInstant.toEpochMilli

  /** TIME_FLOOR, or with `ceil` TIME_CEIL, of `ts` at `g`; a
    * `rowOrigin` replaces `g`'s origin per row (null gives null).
    */
  final case class TimeFloor(ts: Expression, rowOrigin: Option[Expression], g: Granularity,
                             ceil: Boolean) extends Expression {
    override def children: Seq[Expression] = ts +: rowOrigin.toSeq
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = children.exists(_.nullable)
    override def prettyName: String = if (ceil) "time_ceil" else "time_floor"

    override def eval(input: InternalRow): Any = {
      val t = ts.eval(input)
      val at = rowOrigin.fold(Option(g))(o =>
        Option(o.eval(input)).map(v => g.atOrigin(v.asInstanceOf[Long])))
      if (t == null || at.isEmpty) null else at.get.micros(t.asInstanceOf[Long], ceil)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gran = ctx.addReferenceObj("granularity", g)
      val kids = children.map(_.genCode(ctx))
      val at = kids.lift(1).fold(gran)(o => s"$gran.atOrigin(${o.value})")
      ev.copy(code = code"""
        ${kids.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = ${kids.map(_.isNull.toString).mkString(" || ")};
        long ${ev.value} = -1L;
        if (!${ev.isNull}) ${ev.value} = $at.micros(${kids.head.value}, $ceil);""")
    }

    /** `time_floor(ts, 'P1M'[, origin][, 'zone'])`, as the SQL reads. */
    private def show(arg: Expression => String): String = {
      val o = rowOrigin.map(arg).orElse(g.origin.map(ms => Literal(ms * 1000L, TimestampType).sql))
      val z = g.zone.map(z => s"'${z.getId}'")
      (Seq(arg(ts), s"'${g.period.iso}'") ++ o.orElse(z.map(_ => "NULL")) ++ z)
        .mkString(s"$prettyName(", ", ", ")")
    }
    override def toString: String = show(_.toString)
    override def sql: String = show(_.sql)

    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TimeFloor =
      copy(ts = c.head, rowOrigin = c.lift(1))
  }

  // ---- Druid SQL ----------------------------------------------------------

  /** Literal-string argument (the period / unit / timezone slots — in
    * Druid SQL these are always literals).
    */
  private def litString(e: Expression, what: String): String = e match {
    case l: Literal if l.value != null => l.value.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def asTs(e: Expression, zoneId: Option[String] = None): Expression =
    if (e.dataType == TimestampType) e else Cast(e, TimestampType, zoneId)

  /** UTC instant -> wall clock in tz (represented as a UTC-frame ts). */
  private def inZone(ts: Expression, tz: Option[String]): Expression =
    tz.fold(ts)(z => FromUTCTimestamp(ts, Literal(z)))
  private def outZone(ts: Expression, tz: Option[String]): Expression =
    tz.fold(ts)(z => ToUTCTimestamp(ts, Literal(z)))

  private def isNull(e: Expression): Boolean = PartialFunction.cond(e) { case Literal(null, _) => true }

  /** TIME_FLOOR / TIME_CEIL: a foldable origin folds into `g`. */
  private def floorNode(ceil: Boolean): Seq[Expression] => Expression = { exprs =>
    val name = if (ceil) "time_ceil" else "time_floor"
    require(exprs.length >= 2 && exprs.length <= 4,
      s"$name(ts, period[, origin[, timezone]]) takes 2-4 args, got ${exprs.length}")
    val g = Granularity(period(litString(exprs(1), s"$name period")),
      zone = exprs.lift(3).filterNot(isNull).flatMap(e => zone(litString(e, s"$name timezone"))))
    val origin = exprs.lift(2).filterNot(isNull).map(asTs(_, Some(SQLConf.get.sessionLocalTimeZone)))
    val folded = origin.filter(_.foldable).flatMap(o =>
      try Option(o.eval()).map(v => g.atOrigin(v.asInstanceOf[Long]))
      catch { case scala.util.control.NonFatal(_) => None })
    TimeFloor(asTs(exprs.head), if (folded.isDefined) None else origin, folded.getOrElse(g), ceil)
  }

  val timeShift: Seq[Expression] => Expression = { exprs =>
    require(exprs.length >= 3 && exprs.length <= 4,
      s"time_shift(ts, period, step[, timezone]) takes 3-4 args, got ${exprs.length}")
    val p = period(litString(exprs(1), "time_shift period"))
    val step = exprs(2)
    val tz = exprs.lift(3).map(litString(_, "time_shift timezone"))
    val ts = asTs(exprs.head)
    // calendar-aware month add (clamps 31st -> 30th like Druid/Joda);
    // wall-clock months in tz via the localize/delocalize pair
    val shifted =
      if (p.months == 0) ts
      else outZone(TimestampAdd("MONTH",
        Multiply(Cast(step, IntegerType), Literal(p.months)), inZone(ts, tz)), tz)
    if (p.months != 0 && p.millis == 0) shifted
    else MillisToTimestamp(Add(UnixMillis(shifted),
      Multiply(Cast(step, LongType), Literal(p.millis))))
  }

  val timeExtract: Seq[Expression] => Expression = { exprs =>
    require(exprs.length >= 2 && exprs.length <= 3,
      s"time_extract(ts, unit[, timezone]) takes 2-3 args, got ${exprs.length}")
    val tz = exprs.lift(2).map(litString(_, "time_extract timezone"))
    val local = inZone(asTs(exprs.head), tz)
    val unit = litString(exprs(1), "time_extract unit").toUpperCase
    val out: Expression = unit match {
      case "EPOCH"   => UnixSeconds(asTs(exprs.head)) // tz-invariant
      case "MILLISECOND" => Pmod(UnixMillis(asTs(exprs.head)), Literal(1000L))
      case "SECOND"  => Second(local)
      case "MINUTE"  => Minute(local)
      case "HOUR"    => Hour(local)
      case "DAY"     => DayOfMonth(local)
      case "DOW"     => Add(WeekDay(local), Literal(1)) // 1=Mon..7=Sun (ISO)
      case "DOY"     => DayOfYear(local)
      case "WEEK"    => WeekOfYear(local) // ISO week
      case "MONTH"   => Month(local)
      case "QUARTER" => Quarter(local)
      case "YEAR"    => Year(local)
      case other =>
        throw new IllegalArgumentException(s"time_extract unit '$other'")
    }
    Cast(out, LongType)
  }

  val timeParse: Seq[Expression] => Expression = { exprs =>
    require(exprs.nonEmpty && exprs.length <= 3,
      s"time_parse(string[, pattern[, timezone]]) takes 1-3 args, got ${exprs.length}")
    val parsed: Expression = exprs.lift(1).filterNot(isNull) match {
      case Some(pat) => new ParseToTimestamp(exprs.head, pat)
      case None      => Cast(exprs.head, TimestampType) // ISO-8601
    }
    // pattern-less ISO strings carry their own offset; a timezone arg
    // re-interprets offset-less wall-clock strings in that zone
    exprs.lift(2).map(litString(_, "time_parse timezone"))
      .fold(parsed)(z => ToUTCTimestamp(parsed, Literal(z)))
  }

  /** Druid's default output: ISO-8601 millis in UTC with literal Z. */
  private val IsoOut = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  val timeFormat: Seq[Expression] => Expression = { exprs =>
    require(exprs.nonEmpty && exprs.length <= 3,
      s"time_format(ts[, pattern[, timezone]]) takes 1-3 args, got ${exprs.length}")
    val tz = exprs.lift(2).map(litString(_, "time_format timezone"))
    val pat = exprs.lift(1).filterNot(isNull).getOrElse(Literal(IsoOut))
    DateFormatClass(inZone(asTs(exprs.head), tz), pat)
  }

  /** `TIME_IN_INTERVAL(ts, '2024-01-01/2024-01-08')` — also accepts a
    * period on either side ('2024-01-01/P1W', 'P1W/2024-01-08');
    * half-open [start, end) like Druid intervals.
    */
  val timeInInterval: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"time_in_interval(ts, interval) takes 2 args, got ${exprs.length}")
    val iv = litString(exprs(1), "interval")
    val (s, e) = interval(iv)
    require(s <= e, s"interval '$iv' is reversed")
    val millis = UnixMillis(asTs(exprs.head))
    And(GreaterThanOrEqual(millis, Literal(s)), LessThan(millis, Literal(e)))
  }

  val millisToTimestamp: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "millis_to_timestamp takes 1 arg")
    MillisToTimestamp(Cast(exprs.head, LongType))
  }

  val timestampToMillis: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "timestamp_to_millis takes 1 arg")
    UnixMillis(asTs(exprs.head))
  }

  /** (name, usage, builder) rows for registration. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    "time_floor(ts, period[, origin[, timezone]])" -> floorNode(ceil = false),
    "time_ceil(ts, period[, origin[, timezone]])" -> floorNode(ceil = true),
    "time_shift(ts, period, step[, timezone])" -> timeShift,
    "time_extract(ts, unit[, timezone])" -> timeExtract,
    "time_parse(string[, pattern[, timezone]])" -> timeParse,
    "time_format(ts[, pattern[, timezone]])" -> timeFormat,
    "time_in_interval(ts, 'start/end')" -> timeInInterval,
    "millis_to_timestamp(millis)" -> millisToTimestamp,
    "timestamp_to_millis(ts)" -> timestampToMillis).map { case (usage, build) =>
    val name = usage.takeWhile(_ != '(')
    (name, s"$usage - Druid ${name.toUpperCase(java.util.Locale.ROOT)}", build)
  }
}
