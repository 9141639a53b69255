package graft.plans

import java.util.concurrent.CopyOnWriteArrayList

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DoubleType, IntegerType, TimestampType}

import graft.sql.DruidTime
import graft.sql.DruidTime.{Granularity, TimeFloor}

/** Materialized-rollup ROUTING — the engine's first whole-plan Catalyst
  * rewrite: aggregates over a registered BASE table silently answer
  * from its pre-aggregated rollup when (and only when) the rewrite is
  * semantically exact, the way an OLAP engine's materialized-view
  * selection works. Druid itself gets this effect by making users
  * query the rolled-up datasource; here the USER'S query stays on the
  * base table and Catalyst swaps the relation — at 100 TB that is the
  * difference between scanning the raw event log and scanning a table
  * ~granularity-cardinality smaller.
  *
  * Soundness contract (enforced structurally, conservatively — any
  * non-matching shape leaves the plan untouched):
  *  - the registered base must be a (chain of deterministic) Project(s)
  *    directly over ONE leaf relation — a base containing a Filter,
  *    join, or aggregate is REJECTED at register() time, because the
  *    leaf-fallback match below could otherwise route an unfiltered
  *    query to a rollup built from filtered rows;
  *  - the aggregate's child must be the registered base plan (or a
  *    Filter over it whose condition references registered DIMENSIONS
  *    only — such filters commute with the rollup's grouping);
  *  - every grouping expression is a registered dimension or a floor
  *    of timeCol whose buckets are unions of the rollup's (DruidTime's
  *    lattice test, `Granularity.coarserOrEqual`): a TIME_FLOOR, native
  *    granularity or `timestamp_floor` (no ceil, a literal origin or
  *    none), or a `date_trunc` whose unit is a DruidTime name;
  *  - every aggregate is sum/min/max over a registered measure
  *    (rewritten to sum/min/max of the rollup's pre-aggregate),
  *    `count(*)`/`count(1)` (rewritten to sum of the rollup's count),
  *    `count(m)` over a measure with a registered per-measure non-null
  *    count column, or `avg(m)` over a measure with BOTH a sum and a
  *    count column (rewritten to sum(sum_col)/sum(cnt_col), the exact
  *    decomposition);
  *  - a cast in the QUERY is never dropped: definition matching strips
  *    casts only on the REGISTERED side, so `CAST(dim AS x)` re-wraps
  *    the remapped rollup attribute via the deterministic-shell
  *    recursion, and every remapped expression must keep the original
  *    expression's dataType or the whole rewrite is abandoned;
  *  - at least one grouping expression exists (a GLOBAL count over an
  *    EMPTY base would answer 0 from base but NULL from an empty
  *    rollup, so global aggregates are never routed).
  *
  * Staleness tripwire: a rollup is a FROZEN pre-aggregate while this
  * engine's druid tables are writable over HTTP (statements-API
  * ingestion, coordinator drops, auto-compaction). register() therefore
  * fingerprints every druid relation inside the base (the segment-dir
  * set — segments are immutable, so any ingest/compact/replace/drop
  * changes it) and tryRewrite re-checks the fingerprint before routing:
  * on mismatch the registration stops routing with ONE loud warning and
  * queries fall back to the raw table — never a silently stale answer.
  * Re-register after refreshing the rollup to resume routing.
  * Non-druid bases (e.g. static parquet) carry no fingerprint: Spark's
  * own file index freezes their file listing per-read.
  *
  * Output attribute ids are preserved (each rewritten projection
  * re-aliases under the original exprId), so parent operators resolve
  * unchanged.
  */
object RollupRouting extends org.apache.spark.internal.Logging {

  /** Quiet freshness probe: every druid root the base reads must still
    * look exactly as it did when the entry was (re)built. */
  private def isFresh(r: Registered): Boolean =
    r.baseRoots.forall { case (root, fp) =>
      graft.sources.druid.SegmentCatalog.stateFingerprint(root) == fp
    }

  /** DruidTime's granularity named `name` (`"DAY"`) in zone `zoneId`. */
  private def granularityIn(name: String, zoneId: String): Granularity =
    DruidTime.granularity(name).copy(zone = DruidTime.zone(zoneId))

  final case class Registered(base: LogicalPlan, rollup: LogicalPlan,
                              timeCol: String, granularity: Granularity,
                              dims: Set[String],
                              sums: Map[String, String],
                              mins: Map[String, String],
                              maxs: Map[String, String],
                              countCol: Option[String],
                              counts: Map[String, String],
                              baseRoots: Seq[(String, String)],
                              hlls: Map[String, (String, Int)] = Map.empty,
                              freqs: Map[String, (String, Int)] = Map.empty,
                              quantiles: Map[String, (String, Int)] = Map.empty,
                              tuples: Map[(String, String), (String, Int)] = Map.empty,
                              tdigests: Map[String, (String, Int)] = Map.empty,
                              maintain: Option[MaintainSpec] = None)

  /** State of an engine-MAINTAINED rollup (registerMaintained): the
    * engine owns the materialization under `rollupRoot` (versioned
    * parquet dirs v000001, v000002, ... each carrying a _segdirs.json
    * recording exactly which base segment dirs it absorbed) and
    * refreshes it on staleness instead of disabling routing. The
    * session is held weakly: a registration must not keep a closed
    * session's JVM state alive, and refresh without a live session
    * degrades to the unmaintained stop-routing behavior. */
  final case class MaintainSpec(
      session: java.lang.ref.WeakReference[SparkSession],
      rollupRoot: String, baseRoot: String,
      segDirNames: Set[String], versionDir: String)

  private val registry = new CopyOnWriteArrayList[Registered]()
  // registrations that have already logged their staleness warning
  // (identity set: one loud line per stale registration, not per query)
  private val staleLogged = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Registered, java.lang.Boolean]())

  /** Strip alias-only wrappers; the registered base must bottom out as
    * deterministic Projects over a single leaf.
    */
  private def validateBaseShape(p: LogicalPlan): Unit = p match {
    case SubqueryAlias(_, c) => validateBaseShape(c)
    case Project(pl, c) =>
      require(pl.forall {
        case _: AttributeReference => true
        case al: Alias             => al.child.deterministic
        case _                     => false
      }, "rollup base Project must be deterministic column references/aliases")
      validateBaseShape(c)
    case leaf if leaf.children.isEmpty => ()
    case other => throw new IllegalArgumentException(
      "rollup base must be a leaf relation or deterministic Projects over " +
        s"one — a ${other.nodeName} (filter/join/aggregate) would make the " +
        "leaf-level match route rows the rollup never saw")
  }

  /** Register `rollupDf` as the exact (dims, granularity) rollup of
    * `baseDf` and arm the rewrite rule on the session. The caller owns
    * the EXACTNESS of the rollup (build it from the base with the same
    * dims/granularity); the rule owns structural applicability — and,
    * for druid-backed bases, the staleness tripwire above.
    */
  def register(spark: SparkSession, baseDf: DataFrame, rollupDf: DataFrame,
               timeCol: String, granularity: String, dims: Seq[String],
               sums: Map[String, String] = Map.empty,
               mins: Map[String, String] = Map.empty,
               maxs: Map[String, String] = Map.empty,
               countCol: Option[String] = None,
               counts: Map[String, String] = Map.empty,
               hlls: Map[String, (String, Int)] = Map.empty,
               freqs: Map[String, (String, Int)] = Map.empty,
               quantiles: Map[String, (String, Int)] = Map.empty,
               tuples: Map[(String, String), (String, Int)] = Map.empty,
               tdigests: Map[String, (String, Int)] = Map.empty)
      : Unit = {
    val g = granularityIn(granularity, spark.sessionState.conf.sessionLocalTimeZone)
    val analyzedBase = baseDf.queryExecution.analyzed
    validateBaseShape(analyzedBase)
    val roots = druidRoots(analyzedBase).map { r =>
      r -> graft.sources.druid.SegmentCatalog.stateFingerprint(r)
    }
    val entry = Registered(analyzedBase,
      rollupDf.queryExecution.analyzed, timeCol, g, dims.toSet,
      sums, mins, maxs, countCol, counts, roots, hlls, freqs, quantiles,
      tuples, tdigests)
    replaceEntry(entry)
    arm(spark)
  }

  /** idempotent registration: same (base, granularity, dims) replaces */
  private def replaceEntry(entry: Registered): Unit = {
    registry.removeIf(r => r.base.sameResult(entry.base) &&
      r.granularity == entry.granularity && r.dims == entry.dims)
    registry.add(entry)
  }

  private def arm(spark: SparkSession): Unit =
    graft.sql.Registration.optimizerRule(spark, RollupRewrite)

  /** Druid table roots referenced anywhere in `p` (for fingerprinting). */
  private def druidRoots(p: LogicalPlan): Seq[String] = p.collect {
    case r: DataSourceV2Relation
        if r.table.isInstanceOf[graft.sources.druid.DruidTable] =>
      r.table.asInstanceOf[graft.sources.druid.DruidTable].rootDir
  }

  /** Test/diagnostic hook: drop every registration. */
  def clear(): Unit = { registry.clear(); staleLogged.clear() }

  // ------------------------------------------------ maintained rollups

  // refreshes are serialized (they are rare — once per ingest into a
  // registered base — and a doubled refresh would write two identical
  // versions); the ThreadLocal breaks re-entrancy: the refresh's own
  // aggregation jobs pass through this optimizer rule and must not
  // route (their source IS the raw data the rollup is being rebuilt
  // from) or recursively re-trigger the refresh
  private val refreshLock = new Object
  private val inRefresh = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  // observability (and the spec's proof that the cheap path ran):
  // how many refreshes took the incremental merge vs the full rebuild
  private[graft] val incrementalRefreshes =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val fullRebuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Register a rollup the ENGINE materializes and maintains: on the
    * first call it aggregates the base into `rollupRoot/v000001`; when
    * the base table later changes (statements-API ingest, compaction,
    * REPLACE, retention drop), the staleness tripwire triggers an
    * automatic refresh on the next routed-shape query instead of
    * permanently disabling routing — append-only deltas aggregate ONLY
    * the new segments and merge with the standing rollup (sum-of-sums
    * / min-of-mins / max-of-maxes / sum-of-counts / hll-union, each an
    * exact decomposition); any removal/replacement rebuilds in full.
    * A restarted process re-adopts the newest on-disk version (each
    * version dir records the exact segment-dir set it absorbed in
    * _segdirs.json) and only refreshes the delta.
    *
    * Constraints beyond register(): the base must bottom out in exactly
    * ONE druid table, through (at most) rename/cast projections — the
    * refresher re-applies those projections to sub-scans of individual
    * new segments, so arbitrary expressions are rejected at call time.
    */
  def registerMaintained(spark: SparkSession, baseDf: DataFrame,
      rollupRoot: String, timeCol: String, granularity: String,
      dims: Seq[String],
      sums: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      countCol: Option[String] = None,
      counts: Map[String, String] = Map.empty,
      hlls: Map[String, (String, Int)] = Map.empty,
      freqs: Map[String, (String, Int)] = Map.empty,
      quantiles: Map[String, (String, Int)] = Map.empty,
      tuples: Map[(String, String), (String, Int)] = Map.empty,
      tdigests: Map[String, (String, Int)] = Map.empty): Unit = {
    // the build and every later refresh (on this session) aggregate
    // through graft's sketch functions
    graft.sql.GraftExtensions.install(spark)
    val g = granularityIn(granularity, spark.sessionState.conf.sessionLocalTimeZone)
    val analyzedBase = baseDf.queryExecution.analyzed
    validateBaseShape(analyzedBase)
    validateMaintainable(analyzedBase)
    val roots = druidRoots(analyzedBase).distinct
    require(roots.size == 1,
      s"maintained rollup needs exactly one druid-backed base (got $roots)")
    val baseRoot = roots.head
    val proto = Registered(analyzedBase, analyzedBase /*placeholder*/,
      timeCol, g, dims.toSet, sums, mins, maxs, countCol, counts,
      Nil, hlls, freqs, quantiles, tuples, tdigests, None)
    val entry = refreshLock.synchronized {
      val current = segNamesOf(baseRoot).getOrElse(throw
        new IllegalArgumentException(s"cannot list segments under $baseRoot"))
      latestVersion(rollupRoot) match {
        case Some((_, dir, covered)) if covered == current =>
          // adopt as-is: the newest materialization covers exactly the
          // live segment set (the restart fast path — zero Spark jobs)
          mkMaintained(spark, proto, rollupRoot, baseRoot, dir, covered)
        case Some((_, dir, covered)) =>
          // adopt STALE: fingerprint pins the covered set, so the first
          // routed-shape query triggers the incremental/full refresh
          mkMaintained(spark, proto, rollupRoot, baseRoot, dir, covered)
        case None =>
          inRefresh.set(true)
          try {
            val full = buildPartial(
              scanBase(spark, proto.base, baseRoot, current), proto)
            val dir = writeVersion(spark, rollupRoot, full, current)
            mkMaintained(spark, proto, rollupRoot, baseRoot, dir, current)
          } finally inRefresh.set(false)
      }
    }
    replaceEntry(entry)
    arm(spark)
  }

  /** Maintained bases allow only rename/cast projections over the leaf
    * (validateBaseShape already rejected anything row-restricting):
    * the refresher re-applies them to per-segment sub-scans by NAME.
    */
  private def validateMaintainable(p: LogicalPlan): Unit = p match {
    case SubqueryAlias(_, c) => validateMaintainable(c)
    case Project(pl, c) =>
      def renameOrCast(e: Expression): Boolean = e match {
        case _: AttributeReference => true
        case cst: Cast             => renameOrCast(cst.child)
        case _                     => false
      }
      require(pl.forall {
        case _: AttributeReference => true
        case al: Alias             => renameOrCast(al.child)
        case _                     => false
      }, "maintained rollup base projections must be renames/casts of " +
        "leaf columns (the refresher re-applies them to new segments)")
      validateMaintainable(c)
    case _ => ()
  }

  private def segNamesOf(root: String): Option[Set[String]] =
    try Some(graft.sources.druid.DruidTableUtil.discoverSegments(root)
      .map(d => java.nio.file.Paths.get(d).getFileName.toString).toSet)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The base restricted to EXACTLY `segNames`: each segment dir loads
    * as its own druid table (schema evolution: a column missing from a
    * segment reads null, matching whole-table semantics), unioned by
    * name, then the base's rename/cast projections re-applied by name.
    */
  private def scanBase(spark: SparkSession, basePlan: LogicalPlan,
      baseRoot: String, segNames: Set[String]): DataFrame = {
    val raw = segNames.toSeq.sorted
      .map(n => spark.read.format("druid").load(s"$baseRoot/$n"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    def rebuild(p: LogicalPlan, src: DataFrame): DataFrame = p match {
      case SubqueryAlias(_, c) => rebuild(c, src)
      case Project(pl, c) =>
        val inner = rebuild(c, src)
        def colOf(e: Expression): org.apache.spark.sql.Column = e match {
          case a: AttributeReference =>
            org.apache.spark.sql.functions.col(a.name)
          case cst: Cast => colOf(cst.child).cast(cst.dataType)
          case other => throw new IllegalStateException(
            s"unmaintainable projection survived validation: $other")
        }
        inner.select(pl.map {
          case a: AttributeReference =>
            org.apache.spark.sql.functions.col(a.name)
          case al: Alias => colOf(al.child).as(al.name)
          case other => throw new IllegalStateException(
            s"unmaintainable projection survived validation: $other")
        }: _*)
      case _ => src
    }
    rebuild(basePlan, raw)
  }

  /** The rollup recipe over base rows (first build and delta build). */
  private def buildPartial(src: DataFrame, r: Registered): DataFrame = {
    import org.apache.spark.sql.functions._
    val gcols = r.granularity.floor(col(r.timeCol))
      .as(r.timeCol) +: r.dims.toSeq.sorted.map(col)
    val aggs =
      r.sums.toSeq.sortBy(_._1).map { case (m, c) => sum(col(m)).as(c) } ++
      r.mins.toSeq.sortBy(_._1).map { case (m, c) => min(col(m)).as(c) } ++
      r.maxs.toSeq.sortBy(_._1).map { case (m, c) => max(col(m)).as(c) } ++
      r.countCol.toSeq.map(c => count(lit(1)).as(c)) ++
      r.counts.toSeq.sortBy(_._1).map { case (m, c) => count(col(m)).as(c) } ++
      r.hlls.toSeq.sortBy(_._1).map { case (m, (c, lgk)) =>
        expr(s"hll_sketch_agg(`$m`, $lgk)").as(c) } ++
      r.freqs.toSeq.sortBy(_._1).map { case (m, (c, mm)) =>
        expr(s"ds_freq(`$m`, $mm)").as(c)
      } ++
      r.quantiles.toSeq.sortBy(_._1).map { case (m, (c, k)) =>
        expr(s"ds_quantiles_sketch(`$m`, $k)").as(c)
      } ++
      r.tuples.toSeq.sortBy(_._2._1).map { case ((km, mm), (c, nom)) =>
        expr(s"ds_tuple(`$km`, `$mm`, $nom)").as(c)
      } ++
      r.tdigests.toSeq.sortBy(_._1).map { case (m, (c, k)) =>
        expr(s"tdigest_agg(`$m`, $k)").as(c)
      }
    require(aggs.nonEmpty, "maintained rollup needs at least one measure")
    src.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge standing rollup rows with a delta partial: every registered
    * aggregate has an exact re-aggregation (sum/min/max/count are
    * semigroups; HLL union state is register-wise max). */
  private def mergePartials(both: DataFrame, r: Registered): DataFrame = {
    import org.apache.spark.sql.functions._
    val gcols = col(r.timeCol) +: r.dims.toSeq.sorted.map(col)
    val aggs =
      r.sums.values.toSeq.sorted.map(c => sum(col(c)).as(c)) ++
      r.mins.values.toSeq.sorted.map(c => min(col(c)).as(c)) ++
      r.maxs.values.toSeq.sorted.map(c => max(col(c)).as(c)) ++
      r.countCol.toSeq.map(c => sum(col(c)).as(c)) ++
      r.counts.values.toSeq.sorted.map(c => sum(col(c)).as(c)) ++
      r.hlls.values.toSeq.map(_._1).sorted.map(c =>
        expr(s"hll_union_agg(`$c`, false)").as(c)) ++
      r.freqs.values.toSeq.sortBy(_._1).map { case (c, mm) =>
        // blob-merge at the SAME maxMapSize: a merge into a smaller
        // map would silently widen error bounds (the lgK-guard class)
        expr(s"ds_freq(`$c`, $mm)").as(c)
      } ++
      r.quantiles.values.toSeq.sortBy(_._1).map { case (c, k) =>
        // blob-merge at the SAME k (the lgK-guard class)
        expr(s"ds_quantiles_sketch(`$c`, $k)").as(c)
      } ++
      r.tuples.values.toSeq.sortBy(_._1).map { case (c, nom) =>
        // blob-merge at the SAME nominalEntries (the lgK-guard class)
        expr(s"ds_tuple_merge(`$c`, $nom)").as(c)
      } ++
      r.tdigests.values.toSeq.sortBy(_._1).map { case (c, k) =>
        // blob-merge at the SAME compression (the lgK-guard class)
        expr(s"tdigest_agg(`$c`, $k)").as(c)
      }
    both.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Versions under rollupRoot: vNNNNNN dirs carrying _segdirs.json
    * (a dir without the meta is an incomplete write — ignored). */
  private def latestVersion(rollupRoot: String)
      : Option[(Int, String, Set[String])] = {
    val dirs = Option(new java.io.File(rollupRoot).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d{6}"))
      .sortBy(_.getName)
    dirs.reverseIterator.flatMap { f =>
      readSegDirsMeta(new java.io.File(f, "_segdirs.json"))
        .map(names => (f.getName.drop(1).toInt, f.getPath, names))
    }.nextOption()
  }

  private def readSegDirsMeta(f: java.io.File): Option[Set[String]] =
    if (!f.isFile) None
    else try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.readTree(java.nio.file.Files.readAllBytes(f.toPath))
      import scala.jdk.CollectionConverters._
      Some(node.path("segDirs").elements().asScala.map(_.asText()).toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeVersion(spark: SparkSession, rollupRoot: String,
      df: DataFrame, segNames: Set[String]): String = {
    val next = latestVersion(rollupRoot).map(_._1).getOrElse(0) + 1
    val dir = f"$rollupRoot/v$next%06d"
    df.write.mode("overwrite").parquet(dir)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    val arr = root.putArray("segDirs")
    segNames.toSeq.sorted.foreach(arr.add)
    // meta LAST: its presence marks the version complete
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_segdirs.json"),
      m.writeValueAsBytes(root))
    dir
  }

  private def mkMaintained(spark: SparkSession, proto: Registered,
      rollupRoot: String, baseRoot: String, versionDir: String,
      covered: Set[String]): Registered =
    proto.copy(
      rollup = spark.read.parquet(versionDir).queryExecution.analyzed,
      baseRoots = Seq(baseRoot ->
        graft.sources.druid.SegmentCatalog.fingerprintOf(covered.toSeq)),
      maintain = Some(MaintainSpec(
        new java.lang.ref.WeakReference(spark), rollupRoot, baseRoot,
        covered, versionDir)))

  /** Refresh a stale maintained registration: aggregate the delta (or
    * rebuild in full when segments were removed/replaced), write the
    * next version, swap the registry entry. Returns the fresh entry,
    * or None when refresh is impossible (session gone, base unreadable)
    * — the caller then falls back to stop-routing. */
  private def refreshMaintained(stale: Registered): Option[Registered] =
    refreshLock.synchronized {
      import scala.jdk.CollectionConverters._
      // another thread may have refreshed while we waited on the lock
      val cur = registry.asScala.find(e =>
        e.base.sameResult(stale.base) &&
          e.granularity == stale.granularity && e.dims == stale.dims)
        .getOrElse(return None)
      if (isFresh(cur)) return Some(cur)
      val m = cur.maintain.getOrElse(return None)
      val spark = m.session.get()
      if (spark == null) {
        logWarning(s"maintained rollup for '${m.baseRoot}' is stale but " +
          "its session was collected; routing disabled")
        return None
      }
      val current = segNamesOf(m.baseRoot).getOrElse {
        logWarning(s"maintained rollup base '${m.baseRoot}' is unreadable; " +
          "routing disabled")
        return None
      }
      inRefresh.set(true)
      try {
        val appendOnly = m.segDirNames.subsetOf(current)
        val merged =
          if (appendOnly) {
            val delta = buildPartial(
              scanBase(spark, cur.base, m.baseRoot,
                current -- m.segDirNames), cur)
            val standing = spark.read.parquet(m.versionDir)
              .select(delta.columns.map(org.apache.spark.sql.functions.col)
                .toSeq: _*)
            mergePartials(standing.unionByName(delta), cur)
          } else // removal/replacement: no exact subtraction for min/max
            buildPartial(scanBase(spark, cur.base, m.baseRoot, current), cur)
        val dir = writeVersion(spark, m.rollupRoot, merged, current)
        val e2 = mkMaintained(spark, cur, m.rollupRoot, m.baseRoot, dir,
          current)
        registry.removeIf(_ eq cur)
        registry.add(e2)
        (if (appendOnly) incrementalRefreshes else fullRebuilds)
          .incrementAndGet()
        logInfo(s"maintained rollup for '${m.baseRoot}' refreshed " +
          s"(${if (appendOnly) s"incremental: ${(current -- m.segDirNames).size} new segment(s)"
          else "full rebuild (segments removed/replaced)"}) -> $dir")
        Some(e2)
      } catch {
        case e: VirtualMachineError => throw e
        case scala.util.control.NonFatal(e) =>
          logWarning(s"maintained rollup refresh for '${m.baseRoot}' " +
            s"FAILED (${e.getMessage}); routing disabled until it succeeds")
          None
      } finally inRefresh.set(false)
    }

  object RollupRewrite extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty || inRefresh.get()) plan
      else plan.transformDown {
        case agg @ Aggregate(groups, _, _, _) if groups.nonEmpty =>
          val it = registry.iterator()
          var out: LogicalPlan = agg
          var done = false
          while (it.hasNext && !done) tryRewrite(agg, it.next()) match {
            case Some(p) => out = p; done = true
            case None    =>
          }
          out
      }

    /** Structural expression equality with attribute identity reduced
      * to NAME (the two sides come from different plans, so exprIds
      * never line up; names are the contract the registration is
      * keyed on).
      */
    private def sameByName(a: Expression, b: Expression): Boolean = {
      // constant-fold foldable subtrees first: the registered base is
      // an ANALYZED plan (literal shells like `cast(100 as bigint)`
      // intact) while the query side arrives OPTIMIZED (folded to
      // `100L`) — without folding, any definition containing literal
      // arithmetic can never match its own folded copy. A
      // BoundLiteral (BoundLiterals' rewrite) is the literal it binds.
      def fold(e: Expression): Expression = e.transformUp {
        case b: BoundLiteral => b.literal
        case x if x.foldable && !x.isInstanceOf[Literal] =>
          try Literal.create(
            x.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
            x.dataType)
          catch { case scala.util.control.NonFatal(_) => x }
      }
      def norm(e: Expression): Expression = fold(e).transformUp {
        case attr: AttributeReference =>
          Literal(org.apache.spark.unsafe.types.UTF8String
            .fromString("attr:" + attr.name),
            org.apache.spark.sql.types.StringType)
      }
      norm(a).canonicalized == norm(b).canonicalized
    }

    private def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case x       => x
    }

    private def leafOf(p: LogicalPlan): LogicalPlan =
      p.collectLeaves() match { case Seq(l) => l; case _ => p }

    /** Peel Projects and Filters off a plan, recording every alias
      * definition (the optimizer pulls grouping expressions and column
      * conversions into such Projects) and collecting filter
      * conditions. Fails (None) on any non-deterministic alias — an
      * inlined copy of one would change semantics.
      */
    private def peel(p: LogicalPlan)
        : Option[(Map[ExprId, Expression], List[Expression], LogicalPlan)] =
      p match {
        case Project(pl, c) if pl.forall {
              case _: AttributeReference => true
              case al: Alias             => al.child.deterministic
              case _                     => false
            } =>
          peel(c).map { case (defs, conds, core) =>
            val mine = pl.collect { case al: Alias => al.exprId -> al.child }
            (defs ++ mine, conds, core)
          }
        case Filter(cond, c) =>
          peel(c).map { case (defs, conds, core) =>
            (defs, cond :: conds, core)
          }
        case other => Some((Map.empty[ExprId, Expression], Nil, other))
      }

    /** Inline `defs` into `e` to fixpoint: the result references only
      * attributes of the plan BELOW the peeled projections.
      */
    private def inline(e: Expression, defs: Map[ExprId, Expression]): Expression = {
      var cur = e
      var rounds = 0
      var changed = true
      while (changed && rounds < 20) {
        val nxt = cur.transformUp {
          case a: AttributeReference if defs.contains(a.exprId) => defs(a.exprId)
        }
        changed = !nxt.fastEquals(cur)
        cur = nxt
        rounds += 1
      }
      cur
    }

    /** The staleness tripwire, reached only AFTER a structural match:
      * fresh → route; stale + maintained → auto-refresh and route from
      * the refreshed entry; stale + unmaintained → one loud warning,
      * routing disabled for this registration (re-register to resume).
      */
    private def freshOrRefreshed(r: Registered): Option[Registered] =
      if (isFresh(r)) Some(r)
      else r.maintain match {
        case Some(_) => refreshMaintained(r)
        case None =>
          if (staleLogged.add(r)) logWarning(
            s"rollup registration for base " +
              s"'${r.baseRoots.map(_._1).mkString(",")}' is STALE (the " +
              "table changed since register() — ingest/compaction/drop); " +
              "routing DISABLED for this registration, queries answer " +
              "from the raw table. Re-register after refreshing the " +
              "rollup to resume.")
          None
      }

    private def tryRewrite(agg: Aggregate, r0: Registered): Option[LogicalPlan] =
      attempt(agg, r0, checkFresh = true)

    /** One rewrite attempt against one registry entry. `checkFresh`
      * gates the staleness check (a directory listing, possibly a
      * refresh job) and runs it only AFTER the structural match
      * succeeds; a refresh swaps the registry entry (new rollup
      * version, new fingerprint), so on refresh the attempt re-runs
      * against the fresh-by-construction replacement entry. */
    private def attempt(agg: Aggregate, r: Registered,
        checkFresh: Boolean): Option[LogicalPlan] = {
      val (defs, conds, core) = peel(agg.child).getOrElse(return None)
      // the peeled core must be the registered base or its leaf (the
      // base's own conversions, if any, arrive via the inlined defs /
      // the registered base definitions below; register() guarantees
      // the base holds NO row-restricting operator above the leaf, so
      // the leaf-level match cannot widen the row set). For a druid
      // base the early-scan-pushdown batch has already turned the leaf
      // into a DataSourceV2ScanRelation by the time user rules run —
      // match it back to the registered root, but ONLY when the scan
      // is a plain (column-pruned-at-most) projection: a scan carrying
      // a pushed filter/limit/aggregate answers a different row set.
      val baseLeaf = leafOf(r.base)
      val coreMatches = core.sameResult(r.base) ||
        core.sameResult(baseLeaf) || (core match {
          case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            sr.scan match {
              case ds: graft.sources.druid.DruidScan if ds.isPlainProjection =>
                baseLeaf match {
                  case rel: DataSourceV2Relation
                      if rel.table.isInstanceOf[graft.sources.druid.DruidTable] =>
                    rel.table.asInstanceOf[graft.sources.druid.DruidTable]
                      .rootDir == ds.rootDir
                  case _ => false
                }
              case _ => false
            }
          case _ => false
        })
      if (!coreMatches) return None

      // base column DEFINITIONS in terms of the leaf: a passthrough
      // column defines itself; a converted column (e.g. ts rebuilt
      // from raw nanos) defines its conversion expression. Registered
      // bases may stack several alias-only Projects (each withColumn
      // adds one), so alias layers are collected ALL the way down and
      // inlined to leaf terms — reading only the top Project would
      // lose any definition introduced a layer below (a tuple measure
      // built with two withColumns hit exactly that).
      val baseDefs: Map[String, Expression] = {
        def layers(p: LogicalPlan, acc: Map[ExprId, Expression])
            : Map[ExprId, Expression] = p match {
          case SubqueryAlias(_, c) => layers(c, acc)
          case Project(pl, c) =>
            layers(c, acc ++ pl.collect { case al: Alias => al.exprId -> al.child })
          case _ => acc
        }
        val defs = layers(r.base, Map.empty)
        r.base.output.map(a =>
          a.name -> inline(defs.getOrElse(a.exprId, a), defs)).toMap
      }
      // FRESH attribute ids per rewrite: two routed aggregates in one
      // query tree (e.g. a union or self-join of aggregates over the
      // base) must not share the rollup relation's exprIds — duplicate
      // ids across branches are the classic self-join ambiguity
      val rollupPlan: LogicalPlan = r.rollup.transformUp {
        case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
          m.newInstance().asInstanceOf[LogicalPlan]
      }
      val rollupAttr: Map[String, Attribute] =
        rollupPlan.output.map(a => a.name -> a).toMap
      def defOf(name: String): Option[Expression] = baseDefs.get(name)

      // casts are stripped ONLY on the registered-definition side (a
      // base conversion projection may wrap the leaf column in a Cast,
      // and a query written against the pre-conversion leaf value may
      // reference it bare); the QUERY side is never stripped — a
      // user's cast either matches the def exactly (it IS the base's
      // own conversion, inlined) or re-wraps the remapped rollup
      // attribute via the deterministic-shell recursion in remapAny,
      // with the dataType guard below rejecting any type change
      def matchesDef(e: Expression, name: String): Boolean =
        defOf(name).exists(d =>
          sameByName(e, d) || sameByName(e, stripCast(d)))

      def remapAggFn(fn: AggregateFunction): Option[AggregateFunction] =
        fn match {
          case s: Sum =>
            r.sums.collectFirst {
              case (m, rc) if matchesDef(s.child, m) => rc
            }.flatMap(rollupAttr.get)
              .map(ra => s.withNewChildren(Seq(ra)).asInstanceOf[Sum])
          case m: Min =>
            r.mins.collectFirst {
              case (mm, rc) if matchesDef(m.child, mm) => rc
            }.flatMap(rollupAttr.get).map(ra => Min(ra))
          case m: Max =>
            r.maxs.collectFirst {
              case (mm, rc) if matchesDef(m.child, mm) => rc
            }.flatMap(rollupAttr.get).map(ra => Max(ra))
          case c: Count if c.children.forall(_.foldable) =>
            r.countCol.flatMap(rollupAttr.get).map(cc => Sum(cc))
          // count(m): non-null count of a measure, answered from the
          // rollup's per-measure non-null-count column
          case c: Count if c.children.sizeIs == 1 =>
            r.counts.collectFirst {
              case (m, rc) if matchesDef(c.children.head, m) => rc
            }.flatMap(rollupAttr.get).map(cc => Sum(cc))
          // hll_sketch_agg(m, lgK) → hll_union_agg(sketch_col): the
          // union's register state is the max-merge of the same
          // hashed values, so the routed estimate equals any
          // MULTI-PARTITION raw aggregation's bit-for-bit. (Spark's
          // own hll_sketch_agg is already partitioning-dependent — a
          // single-partition plan keeps the sketch's HIP estimator
          // while every merged plan answers from the composite
          // estimator; routing always lands on the merged value, the
          // one a distributed scan produces. Registering a sketch
          // column is the caller's opt-in to those merge semantics,
          // exactly a Druid rollup's HLL metric contract.) The
          // query's lgK literal must EQUAL the registered sketch's —
          // a union across configs would silently downsample.
          case h: HllSketchAgg => h.children match {
            case Seq(child, Literal(lgk: Int, IntegerType)) =>
              r.hlls.collectFirst {
                case (m, (rc, lgkReg))
                    if lgkReg == lgk && matchesDef(child, m) => rc
              }.flatMap(rollupAttr.get)
                .map(ra => HllUnionAgg(ra, Literal(false)))
            case _ => None
          }
          // ds_freq(m, maxMapSize) → ds_freq(blob_col, maxMapSize):
          // the same TypedImperativeAggregate blob-merges BinaryType
          // children, so the routed sketch is the Misra-Gries merge of
          // the rollup's per-bucket sketches — identical counts in the
          // exact regime (no purge), the documented merged bound
          // otherwise, exactly what a distributed raw build answers.
          // The query's maxMapSize must EQUAL the registered metric's:
          // a merge into a smaller map would silently widen error
          // bounds (the lgK-guard class, q38).
          case fq: graft.sql.FreqItemsSketchAgg =>
            r.freqs.collectFirst {
              case (m, (rc, mm))
                  if mm == fq.maxMapSize && matchesDef(fq.child, m) => rc
            }.flatMap(rollupAttr.get).map(ra => fq.withNewChildren(
              Seq(ra)).asInstanceOf[graft.sql.FreqItemsSketchAgg])
          // ds_quantiles_sketch(m, k) -> ds_quantiles_sketch(blob_col,
          // k): BinaryType children blob-merge into the union, so the
          // routed sketch is the DoublesUnion of the rollup's
          // per-bucket sketches — identical values while every
          // contributing sketch is in the exact regime (n <= k), the
          // documented rank-error bound otherwise, exactly what a
          // distributed raw build answers. The query's k must EQUAL
          // the registered metric's (the lgK-guard class, q38).
          case qs: graft.sql.QuantilesSketchAgg =>
            r.quantiles.collectFirst {
              case (m, (rc, k))
                  if k == qs.k && matchesDef(qs.child, m) => rc
            }.flatMap(rollupAttr.get).map(ra => qs.withNewChildren(
              Seq(ra)).asInstanceOf[graft.sql.QuantilesSketchAgg])
          // ds_tuple(key, metrics, nom) -> ds_tuple_merge(blob_col,
          // nom): tuple UNION sums metric vectors for shared keys, so
          // the routed sketch equals a distributed raw build — exact
          // (theta == 1) while distinct keys fit nominalEntries, the
          // documented estimate otherwise. BOTH the key and the
          // metrics definitions must match the registered pair, and
          // the query's nominalEntries must EQUAL the registered
          // metric's (the lgK-guard class, q38): a smaller-nominal
          // merge would silently lower theta.
          case ts: graft.sql.TupleSketchAgg =>
            r.tuples.collectFirst {
              case ((km, mm), (rc, nom))
                  if nom == ts.nominalEntries &&
                     matchesDef(stripCast(ts.left), km) &&
                     matchesDef(stripCast(ts.right), mm) => rc
            }.flatMap(rollupAttr.get)
              .map(ra => graft.sql.TupleUnionAgg(ra, ts.nominalEntries))
          // tdigest_agg(m, k) -> tdigest_agg(blob_col, k): BinaryType
          // children blob-merge, so the routed digest is the merge of
          // the rollup's per-bucket digests — the same answer a
          // distributed raw build gives MODULO t-digest's documented
          // merge-order dependence (this family has no exact regime,
          // which is why it is spec-gated, not oracle-gated). The
          // query's compression must EQUAL the registered metric's
          // (the lgK-guard class).
          case td: graft.sql.TDigestAgg =>
            r.tdigests.collectFirst {
              case (m, (rc, k))
                  if k == td.compression && matchesDef(td.child, m) => rc
            }.flatMap(rollupAttr.get).map(ra => td.withNewChildren(
              Seq(ra)).asInstanceOf[graft.sql.TDigestAgg])
          case _ => None
        }

      def aggExpr(fn: AggregateFunction): AggregateExpression =
        AggregateExpression(fn, Complete, isDistinct = false)

      def rollupTime: Option[Expression] = rollupAttr.get(r.timeCol).map { rt =>
        if (rt.dataType == TimestampType) rt
        else Cast(rt, TimestampType,
          Some(java.util.TimeZone.getDefault.getID))
      }

      // remap ANY (inlined) expression onto the rollup: aggregates via
      // remapAggFn, dims by definition match, time ONLY inside a floor
      // at or above the rollup's granularity (DruidTime's lattice test),
      // deterministic scalar shells pass
      // through. A bare time or measure reference finds no rule and
      // fails the whole rewrite — exactly the conservative behavior.
      def remapAny(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression
            if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            // avg(m) = sum(sum_col)/sum(cnt_col): exact decomposition,
            // needs BOTH registered. LEGACY divide (null on 0/0 —
            // an all-null measure bucket — exactly Avg's semantics);
            // Avg's result type is Double for every non-decimal input,
            // and the decimal case fails the dataType guard below.
            case a: Average =>
              val sumCol = r.sums.collectFirst {
                case (m, rc) if matchesDef(a.child, m) => rc
              }.flatMap(rollupAttr.get)
              val cntCol = r.counts.collectFirst {
                case (m, rc) if matchesDef(a.child, m) => rc
              }.flatMap(rollupAttr.get)
              for (sc <- sumCol; cc <- cntCol) yield Divide(
                Cast(aggExpr(Sum(sc)), DoubleType),
                Cast(aggExpr(Sum(cc)), DoubleType),
                EvalMode.LEGACY)
            case fn =>
              remapAggFn(fn).map(fn2 => ae.copy(aggregateFunction = fn2))
          }
        case f: TimeFloor if !f.ceil && f.rowOrigin.isEmpty &&
            Granularity.coarserOrEqual(f.g, r.granularity) && matchesDef(f.ts, r.timeCol) =>
          rollupTime.map(rt => f.copy(ts = rt))
        case t: TruncTimestamp => t.format match {
          case Literal(unit, _) if scala.util.Try(granularityIn(String.valueOf(unit),
                t.zoneId.getId)).toOption.exists(Granularity.coarserOrEqual(_, r.granularity)) &&
                matchesDef(t.timestamp, r.timeCol) =>
            rollupTime.map(rt => t.withNewChildren(Seq(t.format, rt)))
          case _ => None
        }
        case _ if r.dims.exists(d => matchesDef(e, d)) =>
          r.dims.collectFirst { case d if matchesDef(e, d) => d }
            .flatMap(rollupAttr.get)
        case l: Literal => Some(l)
        // the rollup may be a file source, whose scan matches Literal
        case b: BoundLiteral => Some(b.literal)
        case _ if e.children.nonEmpty && e.deterministic =>
          val kids = e.children.map(remapAny)
          if (kids.forall(_.isDefined))
            Some(e.withNewChildren(kids.map(_.get)))
          else None
        case _ => None
      }

      // the final type guard of the untouched-or-exact contract: a
      // remap that changes an expression's result type (a dim stored
      // at a different type in the rollup, a decimal sum-of-sums
      // widening, ...) abandons the rewrite instead of shipping it
      def remapSameType(e: Expression): Option[Expression] =
        remapAny(e).filter(_.dataType == e.dataType)

      def remapNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
        case al @ Alias(other, name) =>
          remapSameType(inline(other, defs))
            .map(e2 => Alias(e2, name)(exprId = al.exprId))
        case a: AttributeReference =>
          remapSameType(inline(a, defs))
            .map(e2 => Alias(e2, a.name)(exprId = a.exprId))
        case _ => None
      }

      val groups2 = agg.groupingExpressions
        .map(g => remapSameType(inline(g, defs)))
      val aggs2 = agg.aggregateExpressions.map(remapNamed)
      val conds2 = conds.map { c =>
        val in = inline(c, defs)
        // aggregates can never appear under a Filter
        if (in.exists(_.isInstanceOf[AggregateExpression])) None
        else remapSameType(in)
      }
      if (groups2.forall(_.isDefined) && aggs2.forall(_.isDefined) &&
          conds2.forall(_.isDefined)) {
        def build: Option[LogicalPlan] = {
          val source = conds2.map(_.get) match {
            case Nil => rollupPlan
            case cs  => Filter(cs.reduce(And), rollupPlan)
          }
          Some(Aggregate(groups2.map(_.get), aggs2.map(_.get), source, None))
        }
        if (!checkFresh) build
        else freshOrRefreshed(r) match {
          case Some(r2) if r2 eq r => build
          case Some(r2) => attempt(agg, r2, checkFresh = false)
          case None     => None
        }
      } else None
    }
  }
}
