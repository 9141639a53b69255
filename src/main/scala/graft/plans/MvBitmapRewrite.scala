package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.druid.{DimBound, DruidScan, MvContains, NestedEq}

/** The one place that turns filter predicates over a druid table into
  * bitmap row-selection hints for its scan. Three hint kinds, each
  * derived from an AND-reachable conjunct of a Filter directly over a
  * druid scan, on a bare attribute of that scan:
  *  - mvContains: `array_contains(mvdim, 'x')` and
  *    `arrays_overlap(mvdim, array('a', 'b'))` on array&lt;string&gt;
  *    dims, served by the MV column's per-value bitmaps;
  *  - nestedEq: `get_json_object(col, '$.path') = 'v'` / `IN (...)` on
  *    a NestedCommonFormat column, served by its per-field value
  *    bitmaps;
  *  - bounds: the comparator shapes Druid's bound filter compiles to
  *    (`version_cmp(d, v) op 0`, `alphanum_key(d) op key`, strlen's
  *    `struct(length(d), d) op struct`, and each of those plus the
  *    lexicographic form inside an MV dim's `exists`), served by one
  *    comparator pass over the dictionary. A plain dim's lexicographic
  *    range needs no rule: V1 pushFilters records it.
  *
  * Every SQL surface reaches the same shapes — Spark SQL and
  * DataFrames directly, Druid SQL through the compat layer, native
  * queries through NativeQuery.compileFilter — so they all get the
  * same hints. Matching is by attribute identity: a dimension shadowed
  * by a virtual column or wrapped in an extractionFn is no bare
  * attribute, and OR/NOT-reachable predicates are never conjuncts.
  *
  * Runs after V2ScanRelationPushDown (experimental.extraOptimizations):
  * none of these predicates has a V1 Filter form, so each survives as
  * the residual Filter directly over the scan, which the rule adds to
  * the scan's one predicate list through DruidScan.withPredicates. The
  * Filter itself is LEFT IN PLACE as the residual final word, so a
  * hint is a pure row-selection superset whose removal cannot change
  * results.
  *
  * Idempotent under the fixed-point batch: clauses already present on
  * the scan produce the same plan object, and AQE re-optimization
  * passes through unchanged.
  *
  * At 100 TB this is the difference between touching |matching
  * bitmap| rows and decoding every multi-value array, nested document
  * or dimension value in every segment.
  *
  * Armed by [[graft.sql.GraftExtensions.install]], the one
  * session-level arming point: every session that resolves a druid
  * table (DruidDataSource.getTable), analyses a query under the
  * extension, or serves the broker or JDBC endpoint is installed.
  * [[BoundLiterals]] is armed right after this rule, in the same
  * batch: it turns the Filter's numeric literals (the `0` of
  * `version_cmp(d, 'v') op 0` among them) into [[BoundLiteral]]s,
  * which this rule reads as the literals they stand for
  * ([[LiteralValue]]).
  */
object MvBitmapRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, sr: DataSourceV2ScanRelation)
        if sr.scan.isInstanceOf[DruidScan] =>
      val scan = sr.scan.asInstanceOf[DruidScan]
      val next = scan.withPredicates(extract(cond, sr.output) ++
        extractNested(cond, sr.output) ++ extractBounds(cond, sr.output))
      if (next eq scan) f else f.copy(child = sr.copy(scan = next))
  }

  /** array&lt;string&gt; (multi-value dimension) attributes by id. */
  private def mvAttrsOf(output: Seq[Attribute]): Map[ExprId, String] =
    output.collect {
      case a if a.dataType.isInstanceOf[ArrayType] &&
          a.dataType.asInstanceOf[ArrayType].elementType == StringType =>
        a.exprId -> a.name
    }.toMap

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** AND-reachable comparator bounds per column, from the shapes
    * NativeQuery's bound filter compiles to:
    *  - version: `version_cmp(d, 'v') op 0`;
    *  - alphanumeric: `alphanum_key(d) op key`, with the raw bound
    *    recovered by [[graft.sql.Alphanum.valueOf]];
    *  - strlen: `struct(length(d), d) op struct(n, 's')` where n is the
    *    length of 's', only beside a `d IS NOT NULL` conjunct;
    *  - on an array&lt;string&gt; dim, any of those or a lexicographic
    *    `x op 's'` inside `exists(d, x -> ...)`: the reader's bitmap
    *    union is exactly "rows where ANY value is in range".
    * A lower and an upper side on one column and ordering merge into
    * one bound (what a two-sided bound filter compiles to) — for an MV
    * dim only within one exists body. Plain string dims qualify only
    * without a complex type (json columns have no dictionary).
    */
  private[graft] def extractBounds(cond: Expression, output: Seq[Attribute])
      : Seq[DimBound] = {
    val plainAttrs: Map[ExprId, String] = output.collect {
      case a if a.dataType == StringType &&
          !a.metadata.contains("druid.complexType") =>
        a.exprId -> a.name
    }.toMap
    val mvAttrs = mvAttrsOf(output)
    if (plainAttrs.isEmpty && mvAttrs.isEmpty) return Nil
    // (column, ordering, isLower, value, strict) of one comparison
    // whose key side is over a column `target` names; `lex` admits the
    // bare lexicographic form
    type Side = (String, String, Boolean, String, Boolean)
    def side(e: Expression, target: Expression => Option[String],
             lex: Boolean): Option[Side] = {
      // (key, literal value, isLower, strict)
      val cmp = e match {
        case GreaterThan(k, LiteralValue(v, _))        => Some((k, v, true, true))
        case GreaterThanOrEqual(k, LiteralValue(v, _)) => Some((k, v, true, false))
        case LessThan(k, LiteralValue(v, _))           => Some((k, v, false, true))
        case LessThanOrEqual(k, LiteralValue(v, _))    => Some((k, v, false, false))
        case _ => None
      }
      cmp.flatMap { case (k, v, lower, strict) =>
        val bound: Option[(String, String, String)] = (k, v) match {
          case (graft.sql.VersionCmp(t, b), 0) =>
            target(t).map(c => (c, "version", b))
          case (graft.sql.AlphanumKey(t), key: UTF8String) =>
            for (c <- target(t); b <- graft.sql.Alphanum.valueOf(key.toString))
              yield (c, "alphanumeric", b)
          case (CreateNamedStruct(Seq(_, Length(t1), _, t2)), r: InternalRow)
              if !r.isNullAt(0) && !r.isNullAt(1) &&
                r.getInt(0) == r.getUTF8String(1).numChars() =>
            target(t1).filter(target(t2).contains)
              .map(c => (c, "strlen", r.getUTF8String(1).toString))
          case (t, s: UTF8String) if lex =>
            target(t).map(c => (c, "lexicographic", s.toString))
          case _ => None
        }
        bound.map { case (c, o, b) => (c, o, lower, b, strict) }
      }
    }
    // Sides merge into one bound only where they constrain ONE value:
    // across the conjuncts of a plain dim, and within one exists body
    // of an MV dim. `exists(d, x -> x >= 'a') AND exists(d, x -> x < 'b')`
    // may be met by two different values, so each exists keeps its own
    // bounds (the reader intersects them, which is then exact).
    def bounds(cs: Seq[Expression], target: Expression => Option[String],
               lex: Boolean): Seq[DimBound] = {
      // strlen's struct key ranks a null below every value, so only a
      // sibling IS NOT NULL on the same key (what NativeQuery emits)
      // makes the predicate as null-free as the bitmap
      val notNull = cs.collect { case IsNotNull(t) => target(t) }.flatten.toSet
      cs.flatMap(side(_, target, lex))
        .filter { case (c, o, _, _, _) => o != "strlen" || notNull(c) }
        .foldLeft(Vector.empty[DimBound]) {
          case (acc, (c, o, lower, v, strict)) =>
            // one bound per (column, ordering) until a side repeats
            val i = acc.indexWhere { b =>
              b.col == c && b.ordering == o &&
                (if (lower) b.lower.isEmpty else b.upper.isEmpty)
            }
            val b0 = if (i >= 0) acc(i) else DimBound(c, o, None, false, None, false)
            val b =
              if (lower) b0.copy(lower = Some(v), lowerStrict = strict)
              else b0.copy(upper = Some(v), upperStrict = strict)
            if (i >= 0) acc.updated(i, b) else acc :+ b
        }
    }
    val top = conjuncts(cond)
    val plain = bounds(top, {
      case a: AttributeReference => plainAttrs.get(a.exprId)
      case _ => None
    }, lex = false)
    val mv = top.flatMap {
      case ArrayExists(a: AttributeReference,
          LambdaFunction(body, Seq(x: NamedLambdaVariable), _), _)
          if mvAttrs.contains(a.exprId) =>
        bounds(conjuncts(body), {
          case v: NamedLambdaVariable if v.exprId == x.exprId =>
            mvAttrs.get(a.exprId)
          case _ => None
        }, lex = true)
      case _ => Nil
    }
    plain ++ mv
  }

  /** AND-reachable nested-field equality clauses:
    * `get_json_object(col, '$.path') = 'v'` (either side) and
    * `get_json_object(col, '$.path') IN (...)` on a NestedCommonFormat
    * column. Served by the per-field value bitmaps; a SUPERSET
    * selection — long 5 and string "5" both render as "5", the
    * residual is the final word. Only simple dot paths (no wildcards,
    * no array steps), matching what the nested writer stores.
    */
  private[graft] def extractNested(cond: Expression, output: Seq[Attribute])
      : Seq[NestedEq] = {
    val nestedAttrs: Map[ExprId, String] = output.collect {
      case a if a.dataType == StringType &&
          a.metadata.contains("druid.complexType") &&
          a.metadata.getString("druid.complexType") ==
            graft.format.NestedColumn.PartType =>
        a.exprId -> a.name
    }.toMap
    if (nestedAttrs.isEmpty) return Nil
    // dot steps plus optional [N] indices (the array-of-objects
    // shredding); eqBitmap declines scalar-array element paths itself
    val simplePath = """^\$(\.[^.\[\]'"*]+(\[(0|[1-9]\d*)\])?)+$""".r
    def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case x       => x
    }
    def jsonArgs(json: Expression, path: Expression)
        : Option[(String, String)] = (stripCast(json), stripCast(path)) match {
      case (a: AttributeReference, Literal(p: UTF8String, _))
          if nestedAttrs.contains(a.exprId) && p != null &&
            simplePath.matches(p.toString) =>
        Some((nestedAttrs(a.exprId), p.toString))
      case _ => None
    }
    def field(e: Expression): Option[(String, String)] = e match {
      case g: GetJsonObject => jsonArgs(g.json, g.path)
      // the SQL-compat json_value(expr, path): scalar-or-null text —
      // every row it can match also matches the rendered-text probe,
      // so the same superset selection applies
      case u: ScalaUDF if u.udfName.contains("json_value") &&
          u.children.length == 2 =>
        jsonArgs(u.children.head, u.children(1))
      case _ => None
    }
    def lit(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType)
          if s != null => Some(s.toString)
      case _ => None
    }
    conjuncts(cond).flatMap {
      case EqualTo(l, r) =>
        field(l).flatMap(f => lit(r).map(v => NestedEq(f._1, f._2, Seq(v))))
          .orElse(field(r).flatMap(f => lit(l).map(v => NestedEq(f._1, f._2, Seq(v)))))
      case EqualNullSafe(l, r) =>
        field(l).flatMap(f => lit(r).map(v => NestedEq(f._1, f._2, Seq(v))))
          .orElse(field(r).flatMap(f => lit(l).map(v => NestedEq(f._1, f._2, Seq(v)))))
      case In(g, vs) =>
        field(g).flatMap { f =>
          val lits = vs.map(lit)
          if (lits.isEmpty || lits.exists(_.isEmpty)) None
          else Some(NestedEq(f._1, f._2, lits.map(_.get)))
        }
      // the optimizer turns a long IN list into InSet
      case InSet(g, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[UTF8String]) =>
        field(g).map(f => NestedEq(f._1, f._2, vs.toSeq.map(_.toString)))
      case _ => None
    }
  }

  /** AND-reachable (column, any-of values) clauses on array<string>
    * attributes of `output`. Only plain attribute + literal shapes —
    * anything else stays Spark-side untouched.
    */
  private[graft] def extract(cond: Expression, output: Seq[Attribute])
      : Seq[MvContains] = {
    val mvAttrs = mvAttrsOf(output)
    def strLit(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) if s != null => Some(s.toString)
      case _ => None
    }
    // literal array of non-null strings; null elements make the
    // overlap tri-state — skip the clause entirely then
    def strArray(e: Expression): Option[Seq[String]] = e match {
      case Literal(d: org.apache.spark.sql.catalyst.util.ArrayData,
          ArrayType(StringType, _)) if d != null =>
        val vs = (0 until d.numElements()).map { i =>
          if (d.isNullAt(i)) null else d.getUTF8String(i).toString
        }
        if (vs.contains(null) || vs.isEmpty) None else Some(vs)
      case CreateArray(children, _) =>
        val vs = children.map(strLit)
        if (vs.exists(_.isEmpty) || vs.isEmpty) None
        else Some(vs.map(_.get))
      case _ => None
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => mvAttrs.get(a.exprId)
      case _ => None
    }
    conjuncts(cond).flatMap {
      case ArrayContains(a, v) =>
        for (c <- attrName(a); s <- strLit(v)) yield MvContains(c, Seq(s))
      case ArraysOverlap(a, arr) if attrName(a).isDefined =>
        for (c <- attrName(a); vs <- strArray(arr)) yield MvContains(c, vs)
      case ArraysOverlap(arr, a) if attrName(a).isDefined =>
        for (c <- attrName(a); vs <- strArray(arr)) yield MvContains(c, vs)
      case _ => None
    }
  }
}
