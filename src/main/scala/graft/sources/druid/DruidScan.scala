package graft.sources.druid

import java.util.OptionalLong

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.DruidSegment

/** Scan builder with the pushdowns the reference drops on the floor
  * (filters+limit ignored at src/datafusion_ext/table_provider.rs:63-65):
  *  - column pruning (the only one the reference has);
  *  - filters, kept as [[ScanPred]]s: whole-segment pruning from the
  *    interval, zone maps, string envelopes and null counts, and
  *    bitmap row selection at read time (filters stay residual, Spark
  *    re-evaluates them row-level, so overlap at segment edges is
  *    still correct);
  *  - limit -> per-partition row cap.
  */
class DruidScanBuilder(root: String, fullSchema: StructType,
                       options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  // the servable filters as they arrive, each with its predicate
  private var pushed: Seq[(Filter, ScanPred)] = Nil
  private var limit: Int = -1
  private val snapshot = new ScanSnapshot(root)

  private def isStringCol(name: String): Boolean =
    fullSchema.fields.exists(f => f.name == name &&
      f.dataType == org.apache.spark.sql.types.StringType &&
      !f.metadata.contains("druid.complexType"))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.toSeq.flatMap(f => ScanPred.of(f, fullSchema).map(f -> _))
    filters // all residual: we prune storage, Spark verifies rows
  }

  override def pushedFilters(): Array[Filter] = pushed.map(_._1).toArray

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
    if (pushed.nonEmpty || orders.length != 1 || l <= 0) return false
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
    try snapshot.metas.forall { m =>
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
    try snapshot.metas.forall { m =>
      val hasZone =
        if (typ == 'L') m.exactLongZones.contains(col)
        else m.exactDoubleZones.contains(col)
      hasZone || m.nullCounts.exists(nc =>
        nc.getOrElse(col, m.rows.toLong) == m.rows.toLong)
    } catch { case _: Exception => false }

  private def allIntervalsExact: Boolean =
    try snapshot.metas.forall(_.exactInterval)
    catch { case _: Exception => false }

  private def allNullCountsKnown: Boolean =
    try snapshot.metas.forall(_.nullCounts.isDefined)
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
    val clean = pushed.isEmpty && limit < 0
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
    new DruidScan(root, required, pushed.map(_._2).distinct, limit,
      graft.Settings.RowsPerSplit.in(options), snapshot, pushedAggs, topNTime, groupByDim)
}

/** The lease and segment listing one scan plans from, taken once and
  * lazily, the lease BEFORE the listing (the ordering is the protection
  * anchor — see ReadLease: any segment tombstoned from then on stays
  * un-purged while the lease lives). The builder's aggregate-pushdown
  * checks, the scan and every `withPredicates` copy read this one
  * value, so a segment that lands while a query plans can never make
  * the answer disagree with the checks that allowed it.
  */
final class ScanSnapshot(root: String) {
  lazy val (lease, metas): (Option[ReadLease.Token], Seq[SegMeta]) = {
    val lease = ReadLease.acquire(root)
    (lease, SegmentCatalog.metaFor(root))
  }
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
}

/** One row-range split of one segment. `preds` are the scan's pushed
  * predicates, which the reader turns into a bitmap row selection.
  */
final case class DruidInputPartition(dir: String, rowStart: Int, rowEnd: Int,
                                     preds: Seq[ScanPred] = Nil,
                                     dayKey: Int = 0,
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

/** A druid table scan. `preds` is the one list of pushed predicates:
  * the builder's servable filters, plus the bitmap hints
  * graft.plans.MvBitmapRewrite adds through [[withPredicates]] and the
  * runtime (DPP) filters [[filter]] adds before planInputPartitions.
  */
class DruidScan(root: String, required: StructType,
                private var preds: Seq[ScanPred], limit: Int,
                rowsPerSplit: Long,
                snapshot: ScanSnapshot,
                pushedAggs: Seq[String] = Nil,
                topNTime: Option[(Boolean, Int)] = None,
                groupByDim: Option[String] = None)
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
    preds.isEmpty && limit < 0 && pushedAggs.isEmpty && topNTime.isEmpty &&
      groupByDim.isEmpty

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

  // guard: a metadata-answered aggregate must cover ALL rows; runtime
  // filters only narrow scanned data as an optimization, which is
  // unsound when the "scan" is already the final answer
  override def filter(filters: Array[Filter]): Unit =
    if (!aggPushed) preds ++= fresh(filters.toSeq.flatMap(ScanPred.of(_, required)))

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

  /** This scan with `extra` predicates added, or this very scan when
    * none is new (so the optimizer's fixed-point batch converges): the
    * hook graft.plans.MvBitmapRewrite uses on a scan that
    * V2ScanRelationPushDown already built. Like every pushed predicate,
    * a superset row selection: the caller's predicate must stay on the
    * plan as the residual final word. The rule only fires on
    * Filter-over-scan shapes, which never carry a pushed aggregate,
    * limit or top-N (Spark pushes those only with no residual filter).
    */
  def withPredicates(extra: Seq[ScanPred]): DruidScan = {
    val added = fresh(extra)
    if (added.isEmpty) this
    else new DruidScan(root, required, preds ++ added, limit, rowsPerSplit,
      snapshot, pushedAggs, topNTime, groupByDim)
  }

  /** The canonical forms of `extra` this scan does not hold yet. */
  private def fresh(extra: Seq[ScanPred]): Seq[ScanPred] =
    extra.map(ScanPred.canon).distinct.filterNot(preds.contains)

  override def description(): String =
    s"DruidScan(root=$root, columns=${required.fieldNames.mkString(",")}, " +
      s"preds=${preds.mkString("[", ", ", "]")}, limit=$limit, " +
      s"topNTime=$topNTime, groupByDim=$groupByDim, " +
      s"pushedAggs=${pushedAggs.mkString(",")})"

  /** (interval, rows) metadata per segment, resolved ONCE per query
    * ([[ScanSnapshot]]): from the table manifest when valid (one
    * small-file read, no segment opens at all), else one parallel
    * metadata-open pass. At 10^4-10^5 segments (100 TB) per-query
    * per-callback serial opens would put minutes of wall time on the
    * driver; this is O(1) reads. Partition readers renew the snapshot's
    * lease as they read, so a read of any length finishes against the
    * generation it planned, even across overwrites and compactions.
    */
  private def lease: Option[ReadLease.Token] = snapshot.lease
  private def segmentMeta: Seq[SegMeta] = snapshot.metas

  /** Could the segment hold a matching row? Pruning is a pure test
    * over the memoized metadata, so runtime (DPP) filters added between
    * estimateStatistics and planInputPartitions prune without
    * re-opening anything. (The reference parses the interval,
    * src/segment/metadata.rs:22-23, but never prunes with it.)
    */
  private def admit(m: SegMeta): Boolean = preds.forall(ScanPred.couldMatch(_, m))

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
        DruidInputPartition(m.dir, start, math.min(capped, start + per), preds,
          key, lease)
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

  /** SPJ partition transform implied by a declared segmentGranularity:
    * buckets that divide an hour key by hours, those that divide a day
    * by days, months by months; week/quarter/year buckets straddle
    * month bounds — no calendar transform below them holds, those
    * tables join through a shuffle.
    */
  private[druid] def spjTransformOf(segmentGranularity: String): Option[String] =
    scala.util.Try(graft.sql.DruidTime.granularity(segmentGranularity).period)
      .toOption.collect {
        case p if p.months == 0 && 3600000L % p.millis == 0 => "hours"
        case p if p.months == 0 && 86400000L % p.millis == 0 => "days"
        case p if p.months == 1 => "months"
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
