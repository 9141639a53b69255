package graft.query

/** Translator from Druid's native EXPRESSION LANGUAGE to Spark SQL
  * text (consumed via `expr(...)`, so the result stays a declarative
  * Catalyst expression inside whole-stage codegen).
  *
  * Native queries carry Druid expressions in `virtualColumns`,
  * `expression` filters, expression post-aggregators, and join
  * conditions (reference for the surface: Druid's math-expr docs; the
  * reference bridge has none of this — it is SQL-only). The dialect
  * differs from Spark SQL in exactly the ways this parser fixes:
  *
  *  - operators: `==` (equality), `&&` / `||` / `!` (logic), `^`
  *    (POWER, right-associative)
  *  - identifiers quoted with DOUBLE quotes (`"j.k"`), strings with
  *    single quotes
  *  - 0-based string offsets: `substring(s, 0, 3)`, `strpos` returning
  *    -1 on miss
  *  - function names: `timestamp_floor` / `case_searched` /
  *    `array_length` / `bitwiseAnd` / binary `min`/`max` ...
  *
  * Functions map onto Spark built-ins where semantics match, and onto
  * the registered Druid SQL compat layer (`time_*`, `mv_*`, `lookup`,
  * `safe_divide`) elsewhere — callers must have run
  * `GraftExtensions.install` (NativeQuery.run does).
  *
  * Documented deviation: `/` keeps Spark SQL semantics (always
  * floating-point). Druid's expression `/` does integer division when
  * both operands are longs; a client relying on that writes
  * `div(x, y)`, which translates to Spark's integer `div`.
  *
  * A plain SQL-compatible expression (`user_id % 10`) round-trips
  * unchanged apart from identifier backticks, so pre-translator query
  * JSON keeps working.
  */
object DruidExpr {

  def toSparkSql(s: String): String = new Parser(s).parseAll()

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"druid expression: $msg")

  /** Spark cast target for Druid type names (cast(x, 'LONG')). */
  private val castTypes = Map(
    "LONG" -> "BIGINT", "DOUBLE" -> "DOUBLE", "FLOAT" -> "FLOAT",
    "STRING" -> "STRING")

  /** Druid fn name → fixed-arity Spark fn rename (args unchanged). */
  private val renames = Map(
    "strlen" -> "length",
    "log" -> "ln",
    "pow" -> "power",
    "min" -> "least",
    "max" -> "greatest",
    "todegrees" -> "degrees",
    "toradians" -> "radians",
    "timestamp_floor" -> "time_floor",
    "timestamp_ceil" -> "time_ceil",
    "timestamp_shift" -> "time_shift",
    "timestamp_extract" -> "time_extract",
    "timestamp_parse" -> "time_parse",
    "timestamp_format" -> "time_format",
    "array_length" -> "mv_length",
    "array_offset" -> "mv_offset",
    "array_ordinal" -> "mv_ordinal",
    "array_contains" -> "mv_contains",
    "array_overlap" -> "mv_overlap",
    "array_slice" -> "mv_slice",
    "array_append" -> "mv_append",
    "array_prepend" -> "mv_prepend",
    "array_concat" -> "mv_concat",
    "array_to_string" -> "mv_to_string",
    "string_to_array" -> "string_to_mv",
    "notnull" -> "isnotnull",
    "bitwiseShiftLeft" -> "shiftleft",
    "bitwiseShiftRight" -> "shiftright")

  /** Passthrough names (same meaning in Spark SQL or registered by the
    * compat layer). Anything not listed here, in [[renames]], or given
    * a custom emitter fails loudly rather than silently misbehaving.
    */
  private val passthrough = Set(
    "abs", "ceil", "floor", "exp", "sqrt", "cbrt", "sin", "cos", "tan",
    "asin", "acos", "atan", "atan2", "cot", "log10", "round", "signum",
    "if", "nvl", "coalesce", "concat", "lower", "upper", "trim",
    "ltrim", "rtrim", "repeat", "reverse", "replace", "lpad", "rpad",
    "greatest", "least", "isnull", "isnotnull", "mod",
    "regexp_like", "regexp_replace", "array", "log2", "hypot",
    "sinh", "cosh", "tanh", "expm1", "log1p", "rint", "pi",
    "lookup", "safe_divide", "nullif",
    "ipv4_parse", "ipv4_stringify", "ipv4_match",
    "time_floor", "time_ceil", "time_shift", "time_extract",
    "time_parse", "time_format", "time_in_interval",
    "millis_to_timestamp", "timestamp_to_millis",
    "mv_length", "mv_contains", "mv_overlap", "mv_offset", "mv_ordinal",
    "mv_to_string", "string_to_mv", "mv_slice", "mv_append",
    "mv_prepend", "mv_concat", "mv_filter_only", "mv_filter_none",
    "unix_timestamp", "length", "ln", "power", "sign")

  private final class Parser(src: String) {
    private var pos = 0

    def parseAll(): String = {
      val out = orExpr()
      skipWs()
      if (pos < src.length) fail(s"trailing input at $pos in '$src'")
      out
    }

    private def skipWs(): Unit =
      while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1

    private def peek: Char = if (pos < src.length) src.charAt(pos) else '\u0000'
    private def peek2: Char =
      if (pos + 1 < src.length) src.charAt(pos + 1) else '\u0000'

    // ---- precedence climb -----------------------------------------------

    private def orExpr(): String = {
      var l = andExpr()
      while ({ skipWs(); src.startsWith("||", pos) }) {
        pos += 2; l = s"($l OR ${andExpr()})"
      }
      l
    }

    private def andExpr(): String = {
      var l = cmpExpr()
      while ({ skipWs(); src.startsWith("&&", pos) }) {
        pos += 2; l = s"($l AND ${cmpExpr()})"
      }
      l
    }

    private def cmpExpr(): String = {
      var l = addExpr()
      var done = false
      while (!done) {
        skipWs()
        val op =
          if (src.startsWith("==", pos)) { pos += 2; Some("=") }
          else if (src.startsWith("!=", pos)) { pos += 2; Some("!=") }
          else if (src.startsWith("<=", pos)) { pos += 2; Some("<=") }
          else if (src.startsWith(">=", pos)) { pos += 2; Some(">=") }
          // lone < or > (not <= >= handled above; watch out for nothing else)
          else if (peek == '<') { pos += 1; Some("<") }
          else if (peek == '>') { pos += 1; Some(">") }
          else None
        op match {
          case Some(o) => l = s"($l $o ${addExpr()})"
          case None    => done = true
        }
      }
      l
    }

    private def addExpr(): String = {
      var l = mulExpr()
      var done = false
      while (!done) {
        skipWs()
        if (peek == '+') { pos += 1; l = s"($l + ${mulExpr()})" }
        else if (peek == '-') { pos += 1; l = s"($l - ${mulExpr()})" }
        else done = true
      }
      l
    }

    private def mulExpr(): String = {
      var l = unaryExpr()
      var done = false
      while (!done) {
        skipWs()
        if (peek == '*') { pos += 1; l = s"($l * ${unaryExpr()})" }
        // '/' but not '//'
        else if (peek == '/') { pos += 1; l = s"($l / ${unaryExpr()})" }
        else if (peek == '%') { pos += 1; l = s"($l % ${unaryExpr()})" }
        else done = true
      }
      l
    }

    /** Druid binds unary operators TIGHTER than '^': `-x^2` is
      * `power(-x, 2)`, not `-(power(x, 2))`. So the (possibly negated)
      * primary is the BASE of the power expression; the exponent
      * recurses through unaryExpr, keeping '^' right-associative
      * (`2^3^2` = `power(2, power(3, 2))`) and `2^-3` legal.
      */
    private def unaryExpr(): String = {
      val base = unaryBase()
      skipWs()
      if (peek == '^') { pos += 1; s"power($base, ${unaryExpr()})" }
      else base
    }

    private def unaryBase(): String = {
      skipWs()
      if (peek == '-' && !src.startsWith("--", pos)) {
        pos += 1; s"(- ${unaryBase()})"
      } else if (peek == '!' && peek2 != '=') {
        pos += 1; s"(NOT ${unaryBase()})"
      } else primary()
    }

    // ---- terminals ------------------------------------------------------

    private def primary(): String = {
      skipWs()
      peek match {
        case '(' =>
          pos += 1
          val inner = orExpr()
          skipWs()
          if (peek != ')') fail(s"expected ')' at $pos in '$src'")
          pos += 1
          s"($inner)"
        case '\'' => stringLit()
        case '"'  => quotedIdent('"')
        // Spark-style quoting accepted for compatibility with
        // SQL-leaning clients (and this repo's earlier query JSON)
        case '`'  => quotedIdent('`')
        case c if c.isDigit || (c == '.' && peek2.isDigit) => number()
        case c if c.isLetter || c == '_' || c == '$' =>
          val name = ident()
          skipWs()
          if (peek == '(') call(name)
          else name.toLowerCase match {
            case "null" | "true" | "false" => name.toUpperCase
            case _                         => s"`$name`"
          }
        case c => fail(s"unexpected '$c' at $pos in '$src'")
      }
    }

    private def number(): String = {
      val start = pos
      while (pos < src.length &&
        (src.charAt(pos).isDigit || "eE.".contains(src.charAt(pos)) ||
          ((src.charAt(pos) == '+' || src.charAt(pos) == '-') && pos > start &&
            "eE".contains(src.charAt(pos - 1))))) pos += 1
      src.substring(start, pos)
    }

    /** Single-quoted string, backslash escapes passed through (Spark's
      * default parser understands the same escapes).
      */
    private def stringLit(): String = {
      val start = pos
      pos += 1
      while (pos < src.length && src.charAt(pos) != '\'') {
        if (src.charAt(pos) == '\\' && pos + 1 < src.length) pos += 2
        else pos += 1
      }
      if (pos >= src.length) fail(s"unterminated string in '$src'")
      pos += 1
      src.substring(start, pos)
    }

    /** Raw string contents of a string literal argument (for cast). */
    private def unquote(lit: String): String =
      lit.stripPrefix("'").stripSuffix("'")

    private def quotedIdent(q: Char): String = {
      val end = src.indexOf(q, pos + 1)
      if (end < 0) fail(s"unterminated identifier quote in '$src'")
      val name = src.substring(pos + 1, end)
      pos = end + 1
      s"`$name`"
    }

    private def ident(): String = {
      val start = pos
      while (pos < src.length && {
        val c = src.charAt(pos)
        c.isLetterOrDigit || c == '_' || c == '$'
      }) pos += 1
      src.substring(start, pos)
    }

    private def args(): Seq[String] = {
      // at '('
      pos += 1
      skipWs()
      if (peek == ')') { pos += 1; return Nil }
      val out = Seq.newBuilder[String]
      out += orExpr()
      skipWs()
      while (peek == ',') { pos += 1; out += orExpr(); skipWs() }
      if (peek != ')') fail(s"expected ')' at $pos in '$src'")
      pos += 1
      out.result()
    }

    private def call(rawName: String): String = {
      val as = args()
      val name = rawName
      def need(n: Int): Unit =
        if (as.size != n) fail(s"$name takes $n args, got ${as.size}")
      name match {
        // 0-based offsets → 1-based
        case "substring" =>
          if (as.size < 2 || as.size > 3) fail(s"substring takes 2-3 args")
          val len = if (as.size == 3) as(2) else "2147483647"
          s"substring(${as(0)}, (${as(1)}) + 1, $len)"
        case "strpos" =>
          need(2); s"(instr(${as(0)}, ${as(1)}) - 1)"
        case "right" => need(2); s"right(${as(0)}, ${as(1)})"
        case "left"  => need(2); s"left(${as(0)}, ${as(1)})"
        case "regexp_extract" =>
          if (as.size < 2 || as.size > 3) fail("regexp_extract takes 2-3 args")
          val g = if (as.size == 3) as(2) else "0"
          s"regexp_extract(${as(0)}, ${as(1)}, $g)"
        case "like" =>
          need(2); s"(${as(0)} LIKE ${as(1)})"
        case "cast" =>
          need(2)
          val t = castTypes.getOrElse(unquote(as(1)).toUpperCase,
            fail(s"cast type ${as(1)}"))
          s"CAST(${as(0)} AS $t)"
        case "case_searched" =>
          if (as.size < 2) fail("case_searched needs cond/result pairs")
          val pairs = as.grouped(2).toSeq
          val whens = pairs.collect { case Seq(c, r) => s"WHEN $c THEN $r" }
          val els = pairs.collectFirst { case Seq(e) => s" ELSE $e" }.getOrElse("")
          s"(CASE ${whens.mkString(" ")}$els END)"
        case "case_simple" =>
          if (as.size < 3) fail("case_simple needs a subject and match/result pairs")
          val pairs = as.tail.grouped(2).toSeq
          val whens = pairs.collect { case Seq(m, r) => s"WHEN $m THEN $r" }
          val els = pairs.collectFirst { case Seq(e) => s" ELSE $e" }.getOrElse("")
          s"(CASE ${as.head} ${whens.mkString(" ")}$els END)"
        case "div" =>
          // Druid's explicit integer division → Spark's div OPERATOR
          // (Spark has no div(a, b) function form)
          need(2); s"((${as(0)}) div (${as(1)}))"
        case "parse_long" =>
          // optional radix; non-parseable input → null, like Druid
          // (TRY_CAST — a plain ANSI CAST would abort the query)
          if (as.isEmpty || as.size > 2) fail("parse_long takes 1-2 args")
          if (as.size == 1) s"TRY_CAST(${as(0)} AS BIGINT)"
          else s"TRY_CAST(conv(${as(0)}, ${as(1)}, 10) AS BIGINT)"
        case "contains_string" =>
          need(2); s"contains(${as(0)}, ${as(1)})"
        case "icontains_string" =>
          need(2); s"contains(lower(${as(0)}), lower(${as(1)}))"
        case "bitwiseAnd"        => need(2); s"(${as(0)} & ${as(1)})"
        case "bitwiseOr"         => need(2); s"(${as(0)} | ${as(1)})"
        case "bitwiseXor"        => need(2); s"(${as(0)} ^ ${as(1)})"
        case "bitwiseComplement" => need(1); s"(~ ${as(0)})"
        case n if renames.contains(n) =>
          s"${renames(n)}(${as.mkString(", ")})"
        case n if passthrough.contains(n) =>
          s"$n(${as.mkString(", ")})"
        case other => fail(s"unsupported function '$other'")
      }
    }
  }
}
