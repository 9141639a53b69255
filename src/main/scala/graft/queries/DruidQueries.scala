package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Queries that exercise the flagship capability: round-trip the
  * driver's tables through our Druid v9 segment writer, then query them
  * through the DSv2 connector (`format("druid")`). The DuckDB oracle
  * runs the same logic over the original parquet — so these verify the
  * writer, the decoders, the connector, and the pushdowns end to end.
  */
object DruidQueries extends QuerySet {

  /** Force-kill the PRIOR bench run's tombstoned generation in a
    * bench-PRIVATE staging root, right after this run's overwrite
    * commits. A fresh JVM re-overwrites every fixed /tmp staging path;
    * the engine (correctly) tombstones the old generation instead of
    * deleting, and within the trash grace a rerun would hold 2x disk
    * and pay a trash list+stat at every maintenance op — the sf1
    * staging inflation measured in r13. These roots are never read
    * across runs, so grace 0 (the operator force-kill, lease-bypassing)
    * is exactly right here — and ONLY here; real tables keep deferred
    * deletion.
    */
  private[queries] def reclaimStagedTrash(root: String): Unit = {
    val _ = try graft.sources.druid.SegmentCatalog
      .purgeTombstoned(root, graceMs = 0L)
    catch { case _: Throwable => 0 }
  }

  /** Write `df` (must carry a `__time` timestamp column) as a druid
    * segment table once per JVM, returning its directory.
    */
  private def segTable(name: String, dir: String, df: => DataFrame,
                       options: Map[String, String] = Map.empty): String = {
    val out = s"/tmp/graft_segments/${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$name"
    Staging.once(out) {
      val w = df.write.format("druid").mode("overwrite")
      options.foldLeft(w) { case (a, (k, v)) => a.option(k, v) }.save(out)
      reclaimStagedTrash(out)
      out
    }
  }

  private def eventsSegPath(s: SparkSession, dir: String): String =
    segTable("events", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("user_id"),
                col("value"), col("props"))
        .repartition(4))

  private def eventsSeg(s: SparkSession, dir: String): DataFrame =
    s.read.format("druid").load(eventsSegPath(s, dir))

  /** Events with a MATERIALIZED version-string dimension (`ver` =
    * "v1.<user_id>") — a plain dictionary-encoded string column, so
    * bound filters on it ride the dictionary-side comparator pushdown
    * (dr66) instead of per-row evaluation.
    */
  private def eventsVerSeg(s: SparkSession, dir: String): DataFrame =
    s.read.format("druid").load(segTable("events_ver", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"),
                concat(lit("v1."), col("user_id").cast("string")).as("ver"),
                col("value"))
        .repartition(4)))

  private def lineitemSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("lineitem", dir,
      Tables.load(s, dir, "lineitem")
        .select(col("l_shipdate").as("__time"), col("l_orderkey"),
                col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
                col("l_discount"), col("l_returnflag"))
        .repartition(4))
    s.read.format("druid").load(path)
  }

  private def docsMvSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("docs_mv", dir,
      Tables.load(s, dir, "documents")
        .select(timestamp_millis(col("doc_id") * 1000).as("__time"),
                col("doc_id"), col("source"),
                split(col("text"), " ").as("words")))
    s.read.format("druid").load(path)
  }

  /** Events with `props` parsed into a STRUCT and landed as a
    * COMPLEX&lt;json&gt; nested column (Druid's "auto" type) — the writer
    * serializes the struct to JSON text blobs, and the read side
    * surfaces a JSON STRING column for `get_json_object`.
    */
  private def eventsJsonSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("events_json", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"),
                from_json(col("props"),
                  org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
                  .as("props"))
        .repartition(4))
    s.read.format("druid").load(path)
  }

  /** Events with a TWO-LEVEL nested struct landed as NestedCommonFormat
    * V5 (`jsonEncoding=nested`) — field dictionaries + per-field
    * sub-columns, modern Druid's "auto" layout, which the reference
    * cannot read at all (src/column/mod.rs:59-61). dr73's staging.
    */
  private def eventsNestedSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("events_nested", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"),
          struct(
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            struct(col("user_id").as("uid"), col("value").as("v")).as("m"),
            // an ARRAY field: rides the array dictionary (element-id
            // sequences), element extraction via $.labels[i]
            array(col("event_type"),
              (col("user_id") % 2).cast("string")).as("labels"))
            .as("props"))
        .repartition(4),
      options = Map("jsonEncoding" -> "nested"))
    s.read.format("druid").load(path)
  }

  /** Events with an ARRAY-OF-OBJECTS nested field (`items[i].{u,cat}`)
    * landed as NestedCommonFormat — element-wise shredded paths, the
    * StructuredDataProcessor shape. dr76's staging.
    */
  private def eventsNestedArrSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("events_nested_arr", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"),
          struct(
            array(
              struct(col("user_id").as("u"), col("event_type").as("cat")),
              struct((col("user_id") % 7).as("u"),
                concat(lit("g"), (col("user_id") % 3).cast("string"))
                  .as("cat"))).as("items"),
            col("value").as("v"))
            .as("props"))
        .repartition(4),
      options = Map("jsonEncoding" -> "nested"))
    s.read.format("druid").load(path)
  }

  private def hllSeg(s: SparkSession, dir: String): DataFrame = {
    import graft.sql.HllFunctions
    val path = segTable("hll", dir,
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(HllFunctions.hllBuild(col("l_partkey")).as("sketch"))
        .select(lit(new java.sql.Timestamp(0)).as("__time"),
                col("l_returnflag"), col("l_linestatus"), col("sketch")))
    s.read.format("druid").load(path)
  }

  /** Per-(day, event_type) Apache DataSketches HLL blobs (Spark's own
    * hll_sketch_agg, datasketches-java wire format) landed in a COMPLEX
    * column tagged typeName "HLLSketch" — REAL-Druid sketch interop:
    * a druid-style rollup segment whose complex payloads any
    * DataSketches reader (Druid itself included) can heapify and merge.
    * Cardinality is bounded (user_id % 128) so the sketches stay in
    * exact (coupon) mode and the estimate is DuckDB-replayable.
    */
  private def dsHllSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("dshll", dir,
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("__time"),
                 col("event_type"))
        .agg(hll_sketch_agg(col("user_id") % 128).as("users_hll"),
             count(lit(1)).as("n_rows")),
      options = Map("segmentGranularity" -> "day",
                    "complexTypes" -> "users_hll:HLLSketch"))
    s.read.format("druid").load(path)
  }

  /** Per-(day, event_type) Apache DataSketches THETA blobs (the wire
    * format of Druid's `thetaSketch` aggregator) in a COMPLEX column
    * tagged "thetaSketch" — the set-operation sketch family's
    * real-interop twin of [[dsHllSeg]]. Bounded cardinality keeps the
    * sketches in exact mode (k=4096 default), so union/intersection/
    * difference estimates are DuckDB-replayable.
    */
  private def dsThetaSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("dstheta", dir,
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("__time"),
                 col("event_type"))
        .agg(collect_set(col("user_id") % 128).as("uids"))
        .select(col("__time"), col("event_type"),
                expr("ds_theta_from_vals(uids)").as("users_theta")),
      options = Map("segmentGranularity" -> "day",
                    "complexTypes" -> "users_theta:thetaSketch"))
    s.read.format("druid").load(path)
  }

  /** Per-(day, event_type) Apache DataSketches TUPLE (arrayOfDoubles)
    * blobs in a COMPLEX column — the wire format of Druid's
    * arrayOfDoublesSketch aggregator's rollup metrics. Key cardinality
    * bounded at 100 keeps theta == 1 on every blob AND every merge, so
    * estimates are exact counts and the (integer-valued) metric sums
    * are exact at any SF.
    */
  private def dsTupleSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("dstuple", dir,
      Tables.events(s, dir)
        .withColumn("uk", expr("cast(user_id % 100 as string)"))
        .withColumn("m", expr("array(floor(value))"))
        .groupBy(date_trunc("day", col("ts")).as("__time"),
                 col("event_type"))
        .agg(expr("ds_tuple(uk, m, 4096)").as("users_tuple")),
      options = Map("segmentGranularity" -> "day",
                    "complexTypes" -> "users_tuple:arrayOfDoublesSketch"))
    s.read.format("druid").load(path)
  }

  /** Per-(day, event_type) Apache DataSketches QUANTILES blobs
    * (DoublesSketch, the wire format of Druid's quantilesDoublesSketch
    * aggregator) in a COMPLEX column — the third real-interop sketch
    * family next to HLL and Theta. k=2048 keeps the merged
    * per-event-type sketches (~2400 values at sf0.01) inside the exact
    * regime (n <= 2k), where every quantile is an exact order
    * statistic the oracle replays with a window rank.
    */
  private def dsQuantilesSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("dsquant", dir,
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("__time"),
                 col("event_type"))
        .agg(collect_list(col("value")).as("vs"))
        .select(col("__time"), col("event_type"),
                expr("ds_quantiles_from_vals(vs)").as("value_qs")),
      options = Map("segmentGranularity" -> "day",
                    "complexTypes" -> "value_qs:quantilesDoublesSketch"))
    s.read.format("druid").load(path)
  }

  /** Per-(event_type, day) fixed-buckets histograms of `value` landed in
    * a COMPLEX column — the ingest-time rollup shape: each group's raw
    * rows collapse to one mergeable blob at write time, and queries
    * merge blobs instead of rescanning rows.
    */
  private def histSeg(s: SparkSession, dir: String): DataFrame = {
    import graft.sql.HistFunctions
    val path = segTable("hist", dir,
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("__time"),
                 col("event_type"))
        .agg(HistFunctions.histBuild(col("value"), 25, 0.0, 500.0)
          .as("hist")))
    s.read.format("druid").load(path)
  }

  /** Per-(l_returnflag, l_linestatus) KMV theta sketches of the partkey
    * set in a COMPLEX column — the Druid Theta-sketch rollup shape for
    * set operations over pre-aggregated segments.
    */
  private def kmvSeg(s: SparkSession, dir: String): DataFrame = {
    import graft.sql.KmvFunctions
    val path = segTable("kmv", dir,
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(KmvFunctions.kmvBuild(col("l_partkey"), 64).as("theta"))
        .select(lit(new java.sql.Timestamp(0)).as("__time"),
                col("l_returnflag"), col("l_linestatus"), col("theta")))
    s.read.format("druid").load(path)
  }

  /** Lineitem range-clustered on l_orderkey: each segment covers a
    * narrow key slice, so the manifest zone maps prune segments for key
    * range scans — the clustered-table layout `Compaction.compact(
    * clusterBy=...)` maintains.
    */
  private def lineitemClusteredSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("lineitem_clustered", dir,
      Tables.load(s, dir, "lineitem")
        .select(col("l_shipdate").as("__time"), col("l_orderkey"),
                col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(4, col("l_orderkey")))
    s.read.format("druid").load(path)
  }

  /** Customer range-clustered on c_name: each segment's manifest
    * carries a narrow [min, max] string envelope, so equality/IN
    * predicates on the dimension skip whole segments at planning —
    * the string twin of the numeric zone maps dr11 exercises.
    */
  private def custClusteredSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("customer_clustered", dir,
      Tables.load(s, dir, "customer")
        .select(timestamp_millis(col("c_custkey") * 1000).as("__time"),
                col("c_name"), col("c_mktsegment"), col("c_acctbal"))
        .repartitionByRange(4, col("c_name")))
    s.read.format("druid").load(path)
  }

  /** Events day-bucketed (segmentGranularity=day): the layout where
    * ORDER BY __time DESC LIMIT k touches only the newest day's
    * segments via the top-N interval cut.
    */
  private def eventsDailySeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("events_daily", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("value"))
        .repartition(2),
      Map("segmentGranularity" -> "day"))
    s.read.format("druid").load(path)
  }

  /** Orders written with compression=zstd: the foreign-codec read path
    * (the reference declares Zstd but errors on it) under the oracle
    * gate, not just unit tests.
    */
  private def ordersZstdSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("orders_zstd", dir,
      Tables.load(s, dir, "orders")
        .select(col("o_orderdate").as("__time"), col("o_orderkey"),
                col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartition(2),
      Map("compression" -> "zstd"))
    s.read.format("druid").load(path)
  }

  /** Customer written with stringEncoding=frontCoded: every string
    * dictionary is prefix-compressed front-coded buckets (Druid's
    * `stringEncodingStrategy: frontCoded`, which the reference cannot
    * read at all). TPC-H customer names share the 'Customer#0000'
    * prefix — the dictionary shrinks severalfold while equality/prefix
    * pushdown keeps using the same bitmap indexes.
    */
  private def custFrontCodedSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("customer_fc", dir,
      Tables.load(s, dir, "customer")
        .select(timestamp_millis(col("c_custkey") * 1000).as("__time"),
                col("c_name"), col("c_mktsegment"), col("c_acctbal"))
        .repartition(2),
      Map("stringEncoding" -> "frontCoded"))
    s.read.format("druid").load(path)
  }

  /** The docs multi-value table written with stringEncoding=frontCoded:
    * BOTH dictionary shapes (single-value source dim + multi-value
    * words dim) land as front-coded buckets — the v5 multi-value read
    * path under the oracle gate.
    */
  private def docsMvFcSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("docs_mv_fc", dir,
      Tables.load(s, dir, "documents")
        .select(timestamp_millis(col("doc_id") * 1000).as("__time"),
                col("doc_id"), col("source"),
                split(col("text"), " ").as("words")),
      Map("stringEncoding" -> "frontCoded"))
    s.read.format("druid").load(path)
  }

  /** Two-generation table for schema evolution under the oracle gate:
    * January's first half lands WITHOUT `props`, the second half
    * appends WITH it — old segments must read the new column as null.
    */
  private def evoSeg(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_segments/${dir.replaceAll("[^A-Za-z0-9.]", "_")}_evo"
    val path = Staging.once(out) {
      val ev = Tables.events(s, dir)
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      ev.filter(col("ts") < cut)
        .select(col("ts").as("__time"), col("event_type"), col("value"))
        .repartition(2)
        .write.format("druid").mode("overwrite").save(out)
      ev.filter(col("ts") >= cut)
        .select(col("ts").as("__time"), col("event_type"), col("value"),
                col("props"))
        .repartition(2)
        .write.format("druid").mode("append").save(out)
      reclaimStagedTrash(out)
      out
    }
    s.read.format("druid").load(path)
  }

  /** Events ingested with rollup=true / queryGranularity=hour: each
    * write task collapses rows sharing (hour, event_type) and SUMS the
    * metrics (`n_rows` is the explicit count metric, Druid's own
    * convention) — the ingest-time pre-aggregation that makes Druid
    * tables a fraction of their raw size. Rollup is per-task
    * best-effort, exactly like Druid's per-flush rollup, so queries
    * re-aggregate — and must match the raw data bit-for-bit.
    */
  private def eventsRollupSeg(s: SparkSession, dir: String): DataFrame = {
    val path = segTable("events_rollup", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("value"),
                lit(1L).as("n_rows"))
        .repartition(4),
      Map("rollup" -> "true", "queryGranularity" -> "hour"))
    s.read.format("druid").load(path)
  }

  /** A day-granular events table under its own catalog, staged once per
    * JVM, with the UTC day 2024-01-03 dropped via SQL `DELETE FROM` —
    * the metadata-only whole-segment delete path (SupportsDelete; the
    * delete happens at staging, so dr24's timing measures the scan).
    * Re-running the DELETE is a no-op: the contained segments are gone
    * and every survivor sits fully outside the range.
    */
  private def delSeg(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"/tmp/graft_del/$tag"
    val cat = s"graftdel_$tag"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.druid.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    Staging.once(root) {
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"),
                col("user_id"), col("value"))
        .repartition(4).write.format("druid")
        .option("segmentGranularity", "day").mode("overwrite")
        .save(s"$root/events_del")
      s.sql(s"DELETE FROM $cat.events_del WHERE " +
        "__time >= TIMESTAMP '2024-01-03 00:00:00' AND " +
        "__time < TIMESTAMP '2024-01-04 00:00:00'")
      // prior run's overwrite trash + this run's DELETE-dropped day
      reclaimStagedTrash(s"$root/events_del")
      root
    }
    s.read.format("druid").load(s"$root/events_del")
  }

  /** Two day-granular tables under one GraftCatalog root (events and
    * per-ts counts) plus hour-granular twins over the first two days,
    * staged once per JVM; returns the catalog name with confs set so
    * `s.table("<cat>.events")` resolves — the storage-partitioned-join
    * setup (dr19 day-keyed, dr25 hour-keyed).
    */
  private def spjCatalog(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"/tmp/graft_spj/$tag"
    val cat = s"graftq_$tag"
    Staging.once(root) {
      val ev = Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("value"))
      ev.repartition(4).write.format("druid")
        .option("segmentGranularity", "day").mode("overwrite")
        .save(s"$root/events")
      ev.groupBy(col("__time")).agg(count(lit(1)).as("n_at_ts"))
        .repartition(4).write.format("druid")
        .option("segmentGranularity", "day").mode("overwrite")
        .save(s"$root/ts_counts")
      // hour-granularity twins (first two days, 48 segments each):
      // the scan reports hours(__time) KeyGroupedPartitioning here
      val ev2 = ev.filter(col("__time") < lit("2024-01-03").cast("timestamp"))
      ev2.repartition(4).write.format("druid")
        .option("segmentGranularity", "hour").mode("overwrite")
        .save(s"$root/events_h")
      ev2.groupBy(col("__time")).agg(count(lit(1)).as("n_at_ts"))
        .repartition(4).write.format("druid")
        .option("segmentGranularity", "hour").mode("overwrite")
        .save(s"$root/ts_counts_h")
      Seq("events", "ts_counts", "events_h", "ts_counts_h")
        .foreach(t => reclaimStagedTrash(s"$root/$t"))
      root
    }
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.druid.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    cat
  }

  /** Every segment table and catalog the dr queries read. */
  def staging: Seq[StageJob] = Seq(
    StageJob("events", eventsSeg), StageJob("events_ver", eventsVerSeg),
    StageJob("lineitem", lineitemSeg), StageJob("docs_mv", docsMvSeg),
    StageJob("events_json", eventsJsonSeg),
    StageJob("events_nested", eventsNestedSeg),
    StageJob("events_nested_arr", eventsNestedArrSeg),
    StageJob("hll", hllSeg), StageJob("dshll", dsHllSeg),
    StageJob("dstheta", dsThetaSeg), StageJob("dstuple", dsTupleSeg),
    StageJob("dsquant", dsQuantilesSeg), StageJob("hist", histSeg),
    StageJob("kmv", kmvSeg),
    StageJob("lineitem_clustered", lineitemClusteredSeg),
    StageJob("customer_clustered", custClusteredSeg),
    StageJob("events_daily", eventsDailySeg),
    StageJob("orders_zstd", ordersZstdSeg),
    StageJob("customer_fc", custFrontCodedSeg),
    StageJob("docs_mv_fc", docsMvFcSeg), StageJob("evo", evoSeg),
    StageJob("events_rollup", eventsRollupSeg),
    StageJob("events_shard", eventsShardedSeg),
    StageJob("events_concise", eventsConciseSeg),
    StageJob("del", delSeg), StageJob("spj", spjCatalog))

  def all: Seq[Q] = Seq(

    // -- SQL DELETE under the oracle gate: a day-aligned __time range
    //    drops whole segments metadata-only (SupportsDelete), and the
    //    surviving table aggregates to exactly the oracle's
    //    range-excluded answer over the raw parquet.
    Q("dr24_sql_delete",
      (s, dir) => {
        delSeg(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
              FROM events
              WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
                 OR ts >= TIMESTAMP '2024-01-04 00:00:00'
              GROUP BY event_type ORDER BY event_type""")),

    // -- Multi-value string dimension (ArrayType round-trip + explode):
    //    the format capability the reference parses but never implements
    //    (hasMultipleValues, SURVEY.md §0 gap table).
    Q("dr6_multivalue_explode",
      (s, dir) => {
        docsMvSeg(s, dir)
          .select(explode(col("words")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 100)
          .orderBy(col("word"))
      },
      Some("""SELECT word, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY word HAVING count(*) >= 100 ORDER BY word""")),

    // -- Full pipeline: parquet -> segment writer -> DSv2 columnar scan
    //    -> hash agg. Matches the oracle on the source parquet.
    Q("dr1_roundtrip_agg",
      (s, dir) => {
        eventsSeg(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
              count(DISTINCT user_id) AS n_users
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- __time range pushdown: the scan prunes whole segments by their
    //    index.drd interval; Spark re-filters rows (residual) for edges.
    Q("dr2_time_prune",
      (s, dir) => {
        eventsSeg(s, dir)
          .filter(col("__time") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
                  col("__time") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n FROM events
              WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                AND ts < TIMESTAMP '2024-01-20 00:00:00'
              GROUP BY event_type ORDER BY event_type""")),

    // -- TPC-H Q1 shape over segments: column pruning + dictionary
    //    strings + double metrics through the vectorized reader.
    Q("dr3_lineitem_agg",
      (s, dir) => {
        lineitemSeg(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
               round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
                 .as("revenue"),
               count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
              count(*) AS n
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- Dictionary-equality pushdown: the scan resolves the value
    //    against the sorted dictionary and reads only the rows in that
    //    value's Roaring bitmap (reference parses bitmaps but never uses
    //    them — SURVEY.md §0 gap table).
    Q("dr5_bitmap_filter",
      (s, dir) => {
        lineitemSeg(s, dir)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("l_quantity")), 2).as("sum_qty"),
               countDistinct(col("l_orderkey")).as("n_orders"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
              round(sum(l_quantity), 2) AS sum_qty,
              count(DISTINCT l_orderkey) AS n_orders
              FROM lineitem WHERE l_returnflag = 'R'
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- Complex (sketch) columns end-to-end, HASH-MATCHED: per-group
    //    HLL sketches built in Spark, landed in a segment COMPLEX
    //    column, read back, merged and estimated in SQL. The reference
    //    hard-errors on Complex columns (src/column/mod.rs:59-61).
    //    The substitute HLL encoding (sql/Hll.scala) is deterministic —
    //    splitmix64 hash, p=11 registers, linear-counting correction —
    //    so the oracle replays the WHOLE estimator in DuckDB SQL:
    //    64-bit wraparound arithmetic via HUGEINT with the multiply
    //    constants split into 32-bit halves, register ranks via the
    //    bit length of the sentinel-padded suffix, and the final
    //    estimate from the zero-register count (integer-exact: the
    //    linear-counting branch depends only on `zeros`, immune to
    //    float summation order).
    Q("dr7_hll_sketch",
      (s, dir) => {
        import graft.sql.HllFunctions
        hllSeg(s, dir).groupBy(col("l_returnflag"))
          .agg(HllFunctions.hllEstimate(
            HllFunctions.hllMerge(col("sketch"))).as("approx_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH v AS (SELECT DISTINCT l_returnflag AS f,
                     CAST(l_partkey AS UBIGINT) AS v FROM lineitem),
              h0 AS (SELECT f, CAST((CAST(v AS HUGEINT) + 11400714819323198485)
                       % 18446744073709551616 AS UBIGINT) AS x FROM v),
              m1 AS (SELECT f, CAST(xor(x, x >> 30) AS HUGEINT) AS y FROM h0),
              h1 AS (SELECT f, CAST((y * 484763065 +
                       ((y * 3210233709) % 4294967296) * 4294967296)
                       % 18446744073709551616 AS UBIGINT) AS x FROM m1),
              m2 AS (SELECT f, CAST(xor(x, x >> 27) AS HUGEINT) AS y FROM h1),
              h2 AS (SELECT f, CAST((y * 321982955 +
                       ((y * 2496678331) % 4294967296) * 4294967296)
                       % 18446744073709551616 AS UBIGINT) AS x FROM m2),
              h AS (SELECT f, xor(x, x >> 31) AS h FROM h2),
              rr AS (SELECT f, h >> 53 AS idx,
                       65 - length(bin(CAST((CAST(h % 9007199254740992 AS HUGEINT)
                         * 2048 + 1024) AS UBIGINT))) AS r FROM h),
              reg AS (SELECT f, idx, max(r) AS r FROM rr GROUP BY f, idx),
              agg AS (SELECT f,
                        sum(power(2.0, -r)) + (2048 - count(*)) AS harm,
                        (2048 - count(*)) + sum(CASE WHEN r = 0 THEN 1 ELSE 0 END)
                          AS zeros
                      FROM reg GROUP BY f)
              SELECT f AS l_returnflag,
                CAST(floor(CASE WHEN (0.7213 / (1 + 1.079 / 2048)) * 2048 * 2048
                       / harm <= 5120.0 AND zeros > 0
                     THEN 2048 * ln(2048.0 / zeros)
                     ELSE (0.7213 / (1 + 1.079 / 2048)) * 2048 * 2048 / harm END
                     + 0.5) AS BIGINT) AS approx_parts
              FROM agg ORDER BY l_returnflag""")),

    // -- REAL-Druid sketch interop, HASH-MATCHED: the segment's COMPLEX
    //    column carries Apache DataSketches HLL blobs (typeName
    //    "HLLSketch" in the ColumnDescriptor — the wire format Druid's
    //    own HLLSketchMergeAggregator consumes), merged across days with
    //    Spark's native hll_union_agg and estimated. The bounded
    //    cardinality keeps the sketches in exact coupon mode, so unlike
    //    dr7 the estimate equals DuckDB's exact DISTINCT and the whole
    //    build → COMPLEX column → heapify → union → estimate pipeline
    //    sits under the hash gate. (DataSketchesInteropSpec additionally
    //    heapifies the raw blobs with datasketches-java directly.)
    Q("dr26_ds_hll_interop",
      (s, dir) => {
        dsHllSeg(s, dir).groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("users_hll")))
                 .as("n_users"),
               sum(col("n_rows")).as("n_rows"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
              count(DISTINCT user_id % 128) AS n_users,
              count(*) AS n_rows
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- DataSketches THETA interop, HASH-MATCHED: per-day blobs in the
    //    segment (Druid thetaSketch wire format) union per event_type
    //    and estimate — the merge half of Druid's thetaSketch
    //    aggregator, replayable because bounded cardinality keeps the
    //    sketches exact.
    Q("dr27_ds_theta_interop",
      (s, dir) => {
        import graft.sql.DsThetaFunctions
        dsThetaSeg(s, dir).groupBy(col("event_type"))
          .agg(DsThetaFunctions.thetaEstimate(
            DsThetaFunctions.thetaUnion(col("users_theta"))).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(DISTINCT user_id % 128) AS n_users
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- DataSketches THETA set operations, HASH-MATCHED: the click and
    //    purchase audiences merge from per-day blobs via conditional
    //    aggregation, then intersection and A-not-B run sketch-side —
    //    Druid's thetaSketchSetOp post-aggregator on Spark, exact below
    //    k and therefore oracle-replayable.
    Q("dr28_ds_theta_setops",
      (s, dir) => {
        import graft.sql.DsThetaFunctions._
        val seg = dsThetaSeg(s, dir)
        seg.agg(
            thetaUnion(when(col("event_type") === "click",
              col("users_theta"))).as("click_sk"),
            thetaUnion(when(col("event_type") === "purchase",
              col("users_theta"))).as("purchase_sk"))
          .select(
            thetaEstimate(col("click_sk")).as("n_click"),
            thetaEstimate(col("purchase_sk")).as("n_purchase"),
            thetaEstimate(thetaIntersect(col("click_sk"),
              col("purchase_sk"))).as("n_both"),
            thetaEstimate(thetaANotB(col("click_sk"),
              col("purchase_sk"))).as("n_click_only"))
      },
      Some("""WITH c AS (SELECT DISTINCT user_id % 128 AS u FROM events
                         WHERE event_type = 'click'),
              p AS (SELECT DISTINCT user_id % 128 AS u FROM events
                         WHERE event_type = 'purchase')
              SELECT (SELECT count(*) FROM c) AS n_click,
                     (SELECT count(*) FROM p) AS n_purchase,
                     (SELECT count(*) FROM c WHERE u IN (SELECT u FROM p))
                       AS n_both,
                     (SELECT count(*) FROM c WHERE u NOT IN (SELECT u FROM p))
                       AS n_click_only""")),

    // -- DataSketches QUANTILES interop, HASH-MATCHED: per-(day,
    //    event_type) DoublesSketch blobs (Druid's
    //    quantilesDoublesSketch wire format) merge across segments per
    //    event_type via DoublesUnion and answer n/p25/p50/p90/p99. In
    //    the exact regime (n <= 2k) each quantile is the order
    //    statistic at rank max(1, ceil(q*n)) — replayed by the
    //    oracle's window rank over the raw rows.
    Q("dr31_ds_quantiles_interop",
      (s, dir) => {
        dsQuantilesSeg(s, dir)
          .groupBy(col("event_type"))
          .agg(expr("ds_quantiles_union_agg(value_qs)").as("merged"))
          .select(col("event_type"),
            expr("ds_quantiles_n(merged)").as("n"),
            round(expr("ds_quantiles_quantile(merged, 0.25D)"), 2).as("p25"),
            round(expr("ds_quantiles_quantile(merged, 0.5D)"), 2).as("p50"),
            round(expr("ds_quantiles_quantile(merged, 0.9D)"), 2).as("p90"),
            round(expr("ds_quantiles_quantile(merged, 0.99D)"), 2).as("p99"))
          .orderBy(col("event_type"))
      },
      Some {
        def pick(q: String): String =
          s"round(max(CASE WHEN rn = greatest(1, CAST(ceil($q * n) AS BIGINT)) " +
            s"THEN value END), 2)"
        s"""WITH c AS (SELECT event_type, count(*) AS n FROM events
           |           GROUP BY event_type),
           |r AS (SELECT event_type, value,
           |        row_number() OVER (PARTITION BY event_type
           |                           ORDER BY value) AS rn
           |      FROM events)
           |SELECT r.event_type, max(c.n) AS n,
           |  ${pick("0.25")} AS p25, ${pick("0.5")} AS p50,
           |  ${pick("0.9")} AS p90, ${pick("0.99")} AS p99
           |FROM r JOIN c ON r.event_type = c.event_type
           |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin
      }),

    // -- Fixed-buckets histogram sketches end-to-end, HASH-MATCHED: the
    //    per-(event_type, day) blobs in the segment merge per event_type
    //    and unpack to exact bucket counts, which must equal a direct
    //    SQL histogram over the raw rows. Deterministic mergeable
    //    sketches make the whole rollup pipeline (build → COMPLEX column
    //    → cross-segment merge → unpack) oracle-exact, unlike dr7's
    //    rows-only HLL gate. Bucket -1 = below-range, 25 = above-range.
    Q("dr9_histogram_sketch",
      (s, dir) => {
        import graft.sql.HistFunctions
        histSeg(s, dir).groupBy(col("event_type"))
          .agg(HistFunctions.histMerge(col("hist"), 25, 0.0, 500.0)
            .as("merged"))
          .select(col("event_type"),
                  posexplode(HistFunctions.histCounts(col("merged")))
                    .as(Seq("pos", "n")))
          .select(col("event_type"), (col("pos") - 1).cast("long").as("bucket"),
                  col("n"))
          .filter(col("n") > 0)
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""SELECT event_type,
              CASE WHEN value < 0 THEN -1
                   WHEN value >= 500 THEN 25
                   ELSE CAST(floor(value / 20) AS BIGINT) END AS bucket,
              count(*) AS n
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type, bucket
              ORDER BY event_type, bucket""")),

    // -- KMV theta sketches end-to-end, HASH-MATCHED: per-(returnflag,
    //    linestatus) bottom-64 sketches of the partkey set merge per
    //    returnflag (sketch UNION), and the merged retained set must be
    //    byte-identical to the k smallest distinct hashes computed
    //    directly in SQL — the KMV union property ((k smallest of a
    //    union of bottom-k sets) == (k smallest of the union)) under
    //    the oracle gate. Hash family shared verbatim with TextOps.
    Q("dr10_theta_sketch",
      (s, dir) => {
        import graft.sql.KmvFunctions
        kmvSeg(s, dir).groupBy(col("l_returnflag"))
          .agg(KmvFunctions.kmvMerge(col("theta"), 64).as("merged"))
          .select(col("l_returnflag"),
                  explode(KmvFunctions.kmvHashes(col("merged"))).as("h"))
          .orderBy(col("l_returnflag"), col("h"))
      },
      Some("""WITH h AS (
                SELECT DISTINCT l_returnflag,
                  (7919 * (l_partkey % 1000003) + 733103) % 1000003 AS h
                FROM lineitem),
              r AS (
                SELECT l_returnflag, h,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
                FROM h)
              SELECT l_returnflag, h FROM r WHERE rn <= 64
              ORDER BY l_returnflag, h""")),

    // -- Theta-sketch SET OPERATIONS (Druid's thetaSketchSetOp): the
    //    per-(flag, status) KMV blobs merge per flag (union), then each
    //    flag PAIR gets an intersection estimate — overlap of retained
    //    sets below the common theta, scaled by P/theta. Every step is
    //    deterministic modular arithmetic, so the oracle replays the
    //    whole estimator in SQL and the estimates match EXACTLY.
    Q("dr21_theta_intersect",
      (s, dir) => {
        import graft.sql.KmvFunctions
        val m = kmvSeg(s, dir).groupBy(col("l_returnflag"))
          .agg(KmvFunctions.kmvMerge(col("theta"), 64).as("sk"))
        val a = m.select(col("l_returnflag").as("f1"), col("sk").as("s1"))
        val b = m.select(col("l_returnflag").as("f2"), col("sk").as("s2"))
        a.join(b, col("f1") < col("f2"))
          .select(col("f1"), col("f2"),
            KmvFunctions.kmvIntersect(col("s1"), col("s2")).as("inter_est"))
          .orderBy(col("f1"), col("f2"))
      },
      Some("""WITH h AS (
                SELECT DISTINCT l_returnflag AS f,
                  (7919 * (l_partkey % 1000003) + 733103) % 1000003 AS h
                FROM lineitem),
              r AS (
                SELECT f, h,
                  row_number() OVER (PARTITION BY f ORDER BY h) AS rn
                FROM h),
              ret AS (SELECT f, h FROM r WHERE rn <= 64),
              th AS (
                SELECT f,
                  CASE WHEN count(*) < 64 THEN 1000003 ELSE max(h) END AS theta
                FROM ret GROUP BY f),
              pairs AS (
                SELECT t1.f AS f1, t2.f AS f2,
                  least(t1.theta, t2.theta) AS theta
                FROM th t1 JOIN th t2 ON t1.f < t2.f),
              ov AS (
                SELECT p.f1, p.f2, p.theta, count(*) AS c
                FROM pairs p
                JOIN ret r1 ON r1.f = p.f1 AND r1.h < p.theta
                JOIN ret r2 ON r2.f = p.f2 AND r2.h = r1.h
                GROUP BY p.f1, p.f2, p.theta)
              SELECT p.f1, p.f2,
                CAST(round(coalesce(o.c, 0) * 1000003.0 / p.theta) AS BIGINT)
                  AS inter_est
              FROM pairs p LEFT JOIN ov o ON p.f1 = o.f1 AND p.f2 = o.f2
              ORDER BY p.f1, p.f2""")),

    // -- Zone-map segment skipping on a range-clustered table: the
    //    l_orderkey range filter prunes segments whose manifest zones
    //    are disjoint (ZoneMapSpec asserts the partition counts; here
    //    the pruned scan must still produce exact results). The layout
    //    is what Compaction.compact(clusterBy) maintains at scale.
    Q("dr11_zone_pruned_scan",
      (s, dir) => {
        lineitemClusteredSeg(s, dir)
          .filter(col("l_orderkey") >= 10000 && col("l_orderkey") < 20000)
          .agg(count(lit(1)).as("n"),
               round(sum(col("l_quantity")), 2).as("sum_qty"),
               round(sum(col("l_extendedprice")), 2).as("sum_price"))
      },
      Some("""SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_price
              FROM lineitem
              WHERE l_orderkey >= 10000 AND l_orderkey < 20000""")),

    // -- String-envelope segment skipping: on the name-clustered table
    //    an IN predicate on the dimension plans only the segments whose
    //    [min, max] string envelope holds a requested value (the
    //    equality twin of dr11's numeric zones; RuntimeFilterSpec pins
    //    the same pruning under join-delivered runtime filters). The
    //    surviving segments then bitmap-skip to the matching rows.
    Q("dr12_dim_pruned_scan",
      (s, dir) => {
        custClusteredSeg(s, dir)
          .filter(col("c_name").isin("Customer#000000042", "Customer#000001007"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
              round(sum(c_acctbal), 2) AS bal
              FROM customer
              WHERE c_name IN ('Customer#000000042', 'Customer#000001007')
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Prefix (LIKE 'p%') pushdown on the name-clustered table: the
    //    envelope test skips segments whose [min, max] range misses
    //    [p, succ(p)), and surviving segments row-skip via one bitmap
    //    union over the contiguous UTF-8 dictionary id range — Druid's
    //    sorted dictionary is what makes a prefix a range scan
    //    (PrefixPushdownSpec pins both prunings).
    Q("dr17_prefix_scan",
      (s, dir) => {
        custClusteredSeg(s, dir)
          .filter(col("c_name").startsWith("Customer#00000042"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
              round(sum(c_acctbal), 2) AS bal
              FROM customer
              WHERE c_name LIKE 'Customer#00000042%'
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Contains/ends-with pushdown (the rest of the LIKE family):
    //    no envelope can prune these, but each surviving segment
    //    resolves matching rows from ONE pass over its dictionary
    //    (cardinality << rows) + a bitmap union — zero row decode
    //    before the residual re-check.
    Q("dr18_pattern_scan",
      (s, dir) => {
        custClusteredSeg(s, dir)
          .filter(col("c_name").endsWith("42"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
              round(sum(c_acctbal), 2) AS bal
              FROM customer
              WHERE c_name LIKE '%42'
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Storage-partitioned join (dr19): both sides are day-granular
    //    segment tables under GraftCatalog, so the __time equi-join
    //    plans on the day-keyed KeyGroupedPartitioning with ZERO
    //    exchanges (SpjSpec pins the plan; this query pins the
    //    results). The oracle replays the join over the raw events.
    Q("dr19_spj_join",
      (s, dir) => {
        val cat = spjCatalog(s, dir)
        s.table(s"$cat.events")
          .join(s.table(s"$cat.ts_counts"), "__time")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(col("n_at_ts")).as("sum_copies"),
               round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH tc AS (SELECT ts, count(*) AS n_at_ts FROM events GROUP BY ts)
              SELECT event_type, count(*) AS n,
                CAST(sum(n_at_ts) AS BIGINT) AS sum_copies,
                round(sum(value), 2) AS sum_value
              FROM events JOIN tc USING (ts)
              GROUP BY event_type ORDER BY event_type""")),

    // -- The same storage-partitioned join at HOUR segmentGranularity:
    //    the scan reports hours(__time) KeyGroupedPartitioning (the
    //    finest calendar bucket containing every segment), so the join
    //    is exchange-free on hour-keyed layout too (SpjSpec pins the
    //    plan shape; here the gate pins the result).
    Q("dr25_spj_hour_join",
      (s, dir) => {
        val cat = spjCatalog(s, dir)
        s.table(s"$cat.events_h")
          .join(s.table(s"$cat.ts_counts_h"), "__time")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(col("n_at_ts")).as("sum_copies"),
               round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT * FROM events
                         WHERE ts < TIMESTAMP '2024-01-03 00:00:00'),
              tc AS (SELECT ts, count(*) AS n_at_ts FROM e GROUP BY ts)
              SELECT event_type, count(*) AS n,
                CAST(sum(n_at_ts) AS BIGINT) AS sum_copies,
                round(sum(value), 2) AS sum_value
              FROM e JOIN tc USING (ts)
              GROUP BY event_type ORDER BY event_type""")),

    // -- Druid SearchQuery: which dimension values match a substring,
    //    with exact row counts — answered per segment from the sorted
    //    dictionary + bitmap cardinalities, O(dictionary) not O(rows),
    //    no row decode at all (DruidSearch; SearchSpec covers the
    //    no-bitmap ids-only fallback and case-insensitive mode).
    Q("dr13_search",
      (s, dir) => {
        graft.sources.druid.DruidSearch
          .search(s, eventsSegPath(s, dir), Seq("event_type", "props"), "9")
          .orderBy(col("dim"), col("value"))
      },
      Some("""SELECT dim, value, cnt FROM (
                SELECT 'event_type' AS dim, event_type AS value,
                       count(*) AS cnt
                FROM events WHERE contains(event_type, '9') GROUP BY 2
                UNION ALL
                SELECT 'props', props, count(*)
                FROM events WHERE contains(props, '9') GROUP BY 2)
              ORDER BY dim, value""")),

    // -- The full metadata-aggregate family in one query: COUNT(*),
    //    COUNT(col), MIN/MAX(long col), SUM(long col) — every value
    //    answered from the manifest (row counts, null counts, exact
    //    zones, partial sums) with zero block decodes (NullSkipSpec
    //    pins the no-HashAggregate plans).
    Q("dr16_meta_aggs",
      (s, dir) => {
        lineitemSeg(s, dir)
          .agg(count(lit(1)).as("n_rows"),
               count(col("l_partkey")).as("n_partkey"),
               min(col("l_orderkey")).as("min_ok"),
               max(col("l_orderkey")).as("max_ok"),
               sum(col("l_orderkey")).as("sum_ok"))
      },
      Some("""SELECT count(*) AS n_rows, count(l_partkey) AS n_partkey,
              min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
              CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
              FROM lineitem""")),

    // -- GROUP BY dim answered from dictionaries: the scan emits each
    //    segment's (value, bitmap cardinality) pairs — O(dictionary)
    //    partial rows, zero row decode — and Spark's final aggregate
    //    merges them (GroupByPushdownSpec pins the plan shape).
    Q("dr15_groupby_dict",
      (s, dir) => {
        eventsSeg(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- Latest-k by time: ORDER BY __time DESC LIMIT k pushes a
    //    partial top-N to the scan, which cuts to the newest segments
    //    that provably contain the true top-k (TopNPushdownSpec pins
    //    the segment counts; deterministic because event ts is unique).
    Q("dr14_latest_k",
      (s, dir) => {
        eventsDailySeg(s, dir)
          .orderBy(col("__time").desc).limit(20)
          .select(unix_millis(col("__time")).as("t_ms"), col("event_type"),
                  round(col("value"), 2).as("v"))
      },
      Some("""SELECT epoch_ms(ts) AS t_ms, event_type, round(value, 2) AS v
              FROM events ORDER BY ts DESC LIMIT 20""")),

    // -- MIN/MAX(__time) answered from index.drd interval bounds with
    //    zero data decode (the builder verifies every segment's
    //    exactInterval flag first). Millis-floored on write, so the
    //    oracle floors too; floor is monotonic, so floor(min) ==
    //    min(floor).
    Q("dr8_time_bounds",
      (s, dir) => {
        eventsSeg(s, dir)
          .agg(min(col("__time")).as("mn"), max(col("__time")).as("mx"),
               count(lit(1)).as("n"))
          .select(unix_millis(col("mn")).as("min_ms"),
                  unix_millis(col("mx")).as("max_ms"), col("n"))
      },
      Some("""SELECT epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms,
              count(*) AS n FROM events""")),

    // -- Rollup ingestion end-to-end: events written with rollup=true /
    //    queryGranularity=hour collapse at ingest (metrics summed per
    //    (hour, event_type) within each task); the read re-aggregates
    //    the partial rollup and must equal a direct GROUP BY over the
    //    raw rows. sum(n_rows) recovers exact counts — the Druid
    //    "count" metric pattern. RollupSpec pins that the segments
    //    really did shrink.
    Q("dr20_rollup_ingest",
      (s, dir) => {
        eventsRollupSeg(s, dir)
          .groupBy(unix_millis(col("__time")).as("hour_ms"), col("event_type"))
          .agg(sum(col("n_rows")).as("n"),
               round(sum(col("value")), 2).as("total_value"))
          .orderBy(col("hour_ms"), col("event_type"))
      },
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- Schema evolution under the oracle gate: segments written
    //    before the `props` column existed null-fill it on read, and
    //    aggregates over the union schema (incl. the COUNT(col)
    //    metadata path, where an absent column means zero non-nulls)
    //    must match the raw data with the same time split.
    Q("dr23_schema_evolution",
      (s, dir) => {
        evoSeg(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), count(col("props")).as("n_props"),
               round(sum(col("value")), 2).as("sv"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
              count(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         THEN props END) AS n_props,
              round(sum(value), 2) AS sv
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- Zstd-compressed segments end to end: written with
    //    compression=zstd, scanned with time pruning + dictionary
    //    strings + distinct agg — the codec the reference declares but
    //    errors on, under the oracle gate.
    Q("dr22_zstd_scan",
      (s, dir) => {
        ordersZstdSeg(s, dir)
          .filter(col("__time") >=
            lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("o_totalprice")), 2).as("total"),
               countDistinct(col("o_custkey")).as("n_cust"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
              round(sum(o_totalprice), 2) AS total,
              count(DISTINCT o_custkey) AS n_cust
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // -- Front-coded string dictionaries end to end: written with
    //    stringEncoding=frontCoded, scanned with a prefix predicate
    //    (pushed down to the dictionary-range + bitmap row selection)
    //    and a dictionary-vector group-by — real Druid's frontCoded
    //    encoding option, which the reference cannot read, under the
    //    oracle gate.
    Q("dr29_frontcoded_scan",
      (s, dir) => {
        custFrontCodedSeg(s, dir)
          .filter(col("c_name").startsWith("Customer#0000000"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("c_acctbal")), 2).as("sum_bal"),
               min(col("c_name")).as("min_name"),
               max(col("c_name")).as("max_name"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
              round(sum(c_acctbal), 2) AS sum_bal,
              min(c_name) AS min_name, max(c_name) AS max_name
              FROM customer
              WHERE c_name LIKE 'Customer#0000000%'
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // -- Multi-value dims with front-coded dictionaries: the same
    //    explode+agg as dr6 but over a stringEncoding=frontCoded
    //    table, so BOTH the v5 multi-value and v3 single-value
    //    dictionary paths (plus a per-source filter over the
    //    front-coded single-value dim) are oracle-gated end to end.
    Q("dr30_frontcoded_mv",
      (s, dir) => {
        docsMvFcSeg(s, dir)
          .filter(col("source") =!= "src7")
          .select(explode(col("words")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 50)
          .orderBy(col("word"))
      },
      Some("""SELECT word, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents WHERE source <> 'src7')
              GROUP BY word HAVING count(*) >= 50 ORDER BY word""")),

    // -- Segment scan joined against a parquet dim (mixed-source join).
    Q("dr4_druid_join",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        lineitemSeg(s, dir)
          .join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("l_extendedprice")), 2).as("total_price"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, count(*) AS n,
              round(sum(l_extendedprice), 2) AS total_price
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand ORDER BY p_brand""")),

    // ---- Druid NATIVE QUERY JSON (graft.query.NativeQuery) ----
    // Druid's primary wire API; the reference accepts only SQL
    // (/root/reference/src/main.rs:65,186-191). Each query below is the
    // verbatim JSON a Druid client would POST, compiled to a DataFrame
    // plan over the segment table — filters and intervals flow into the
    // DSv2 scan's pushdowns (NativeQuerySpec pins the plans). The
    // wrappers only convert timestamps to epoch-millis and round
    // doubles, the repo's oracle-compare conventions.

    // -- timeseries: day buckets, in-filter, filtered aggregator,
    //    arithmetic post-aggregator (Druid's /-by-zero→0 rule).
    Q("dr32_native_timeseries",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": "day",
          "intervals": ["2024-01-05T00:00:00.000Z/2024-01-15T00:00:00.000Z"],
          "filter": {"type": "in", "dimension": "event_type",
                     "values": ["click", "view", "purchase"]},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"},
            {"type": "filtered", "filter":
              {"type": "selector", "dimension": "event_type", "value": "click"},
             "aggregator": {"type": "count", "name": "n_click"}}],
          "postAggregations": [
            {"type": "arithmetic", "name": "avg_value", "fn": "/",
             "fields": [{"type": "fieldAccess", "fieldName": "total_value"},
                        {"type": "fieldAccess", "fieldName": "n"}]}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("day_ms"), col("n"),
                  round(col("total_value"), 2).as("total_value"), col("n_click"),
                  round(col("avg_value"), 4).as("avg_value"))
      },
      Some("""SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS n,
              round(sum(value), 2) AS total_value,
              count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
              round(sum(value) / count(*), 4) AS avg_value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
                AND ts < TIMESTAMP '2024-01-15 00:00:00'
                AND event_type IN ('click', 'view', 'purchase')
              GROUP BY 1 ORDER BY 1""")),

    // -- topN: exact groupBy-sort-limit (one shuffle); metric ties
    //    break by dimension, so the result set is deterministic.
    Q("dr33_native_topn",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "topN", "dataSource": "events",
          "dimension": "event_type", "metric": "total_value",
          "threshold": 3, "granularity": "all",
          "intervals": ["2024-01-01T00:00:00.000Z/2024-02-01T00:00:00.000Z"],
          "aggregations": [
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"},
            {"type": "count", "name": "n"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), round(col("total_value"), 2).as("total_value"),
                  col("n"))
      },
      Some("""SELECT event_type, round(sum(value), 2) AS total_value,
              count(*) AS n FROM events
              GROUP BY event_type ORDER BY sum(value) DESC, event_type
              LIMIT 3""")),

    // -- groupBy: expression virtual column, having, ordered limitSpec.
    Q("dr34_native_groupby",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "user_bucket",
                              "expression": "user_id % 10"}],
          "dimensions": ["event_type",
            {"type": "default", "dimension": "user_bucket",
             "outputName": "bucket"}],
          "aggregations": [{"type": "count", "name": "n"},
            {"type": "longMax", "name": "max_user", "fieldName": "user_id"}],
          "having": {"type": "greaterThan", "aggregation": "n", "value": 200},
          "limitSpec": {"type": "default", "limit": 20, "columns":
            [{"dimension": "n", "direction": "descending"}]}
        }""", _ => eventsSeg(s, dir))
      },
      Some("""SELECT event_type, user_id % 10 AS bucket, count(*) AS n,
              max(user_id) AS max_user
              FROM events GROUP BY 1, 2 HAVING count(*) > 200
              ORDER BY n DESC, event_type, bucket LIMIT 20""")),

    // -- scan: projection + numeric bound filter + __time order + limit
    //    (limit sized above the match count, so the set is exact).
    Q("dr35_native_scan",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "scan", "dataSource": "events",
          "columns": ["__time", "event_type", "user_id", "value"],
          "intervals": ["2024-01-10T00:00:00.000Z/2024-01-13T00:00:00.000Z"],
          "filter": {"type": "bound", "dimension": "value", "lower": "150",
                     "lowerStrict": true, "ordering": "numeric"},
          "order": "descending", "limit": 500
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("ts_ms"), col("event_type"),
                  col("user_id"), col("value"))
      },
      Some("""SELECT epoch_ms(ts) AS ts_ms, event_type, user_id, value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                AND ts < TIMESTAMP '2024-01-13 00:00:00'
                AND value > 150
              ORDER BY ts DESC LIMIT 500""")),

    // -- search: per-dimension value counts for a case-insensitive
    //    contains query (Druid's search result shape).
    Q("dr36_native_search",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "search", "dataSource": "events",
          "searchDimensions": ["event_type"],
          "query": {"type": "insensitive_contains", "value": "C"}
        }""", _ => eventsSeg(s, dir))
          .select(col("dimension"), col("value"), col("count").as("n"))
      },
      Some("""SELECT 'event_type' AS dimension, event_type AS value,
              count(*) AS n FROM events
              WHERE lower(event_type) LIKE '%c%'
              GROUP BY 2 ORDER BY 1, 2""")),

    // -- timeBoundary: min/max(__time) — answered from segment interval
    //    metadata via the complete-aggregate pushdown, zero decode
    //    (NativeQuerySpec asserts no HashAggregate in the plan).
    Q("dr37_native_timeboundary",
      (s, dir) => {
        graft.query.NativeQuery.run(
          """{"queryType": "timeBoundary", "dataSource": "events"}""",
          _ => eventsSeg(s, dir))
          .select(unix_millis(col("minTime")).as("min_ms"),
                  unix_millis(col("maxTime")).as("max_ms"))
      },
      Some("""SELECT epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms
              FROM events""")),

    // -- groupBy with EXTRACTION dimension specs (Druid's per-dimension
    //    rewrite functions): substring of a string dim + timeFormat over
    //    __time as a daily string dim — the idiomatic Druid "group by
    //    formatted time" shape. Both compile to plain Catalyst column
    //    transforms ahead of the aggregate, so pruning/pushdown below
    //    them is untouched.
    Q("dr38_native_extraction",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "intervals": ["2024-01-01T00:00:00.000Z/2024-01-08T00:00:00.000Z"],
          "dimensions": [
            {"type": "extraction", "dimension": "event_type",
             "outputName": "et2",
             "extractionFn": {"type": "substring", "index": 0, "length": 2}},
            {"type": "extraction", "dimension": "__time",
             "outputName": "day",
             "extractionFn": {"type": "timeFormat", "format": "yyyy-MM-dd"}}],
          "aggregations": [{"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value",
             "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("et2"), col("day"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
          .orderBy(col("et2"), col("day"))
      },
      Some("""SELECT substring(event_type, 1, 2) AS et2,
              strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                AND ts < TIMESTAMP '2024-01-08 00:00:00'
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- Druid SQL text, verbatim: TIME_FLOOR / TIME_IN_INTERVAL /
    //    TIME_EXTRACT / LOOKUP / EARLIEST / LATEST / SAFE_DIVIDE over
    //    the segment table through spark.sql — the surface a Druid
    //    user's dashboards actually emit (the reference delegates SQL
    //    wholesale and has none of these functions). Everything except
    //    the inline lookup CASE is native Catalyst, and the time
    //    predicates land in the DSv2 interval pruning unchanged.
    Q("dr39_druid_sql",
      (s, dir) => {
        graft.sql.DruidLookups.register("event_kind", Map(
          "click" -> "engagement", "view" -> "engagement",
          "purchase" -> "conversion"))
        eventsSeg(s, dir).createOrReplaceTempView("graft_dr39_events")
        s.sql("""
          SELECT unix_millis(time_floor(__time, 'P1W')) AS wk_ms,
                 lookup(event_type, 'event_kind', 'other') AS kind,
                 count(*) AS n,
                 round(latest(value), 2) AS last_value,
                 round(earliest(value), 2) AS first_value,
                 round(safe_divide(sum(value), count(value)), 4) AS avg_value
          FROM graft_dr39_events
          WHERE time_in_interval(__time, '2024-01-01/P4W')
            AND time_extract(__time, 'DOW') <= 5
          GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some("""SELECT epoch_ms(date_trunc('week', ts)) AS wk_ms,
              CASE event_type WHEN 'click' THEN 'engagement'
                   WHEN 'view' THEN 'engagement'
                   WHEN 'purchase' THEN 'conversion'
                   ELSE 'other' END AS kind,
              count(*) AS n,
              round(arg_max(value, ts), 2) AS last_value,
              round(arg_min(value, ts), 2) AS first_value,
              round(sum(value) / count(value), 4) AS avg_value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                AND ts < TIMESTAMP '2024-01-29 00:00:00'
                AND isodow(ts) <= 5
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- Druid SQL MV_* functions over a real multi-value dimension
    //    (the format capability the reference parses but never
    //    implements): length/contains/overlap/filter/slice compose as
    //    codegen'd array expressions over the dictionary-decoded
    //    ArrayType column.
    Q("dr40_druid_sql_mv",
      (s, dir) => {
        docsMvSeg(s, dir).createOrReplaceTempView("graft_dr40_docs")
        s.sql("""
          SELECT source,
                 count(*) AS n_docs,
                 sum(CAST(mv_length(words) AS BIGINT)) AS total_words,
                 sum(CAST(mv_contains(words, 'the') AS BIGINT)) AS has_the,
                 round(avg(mv_length(
                   mv_filter_none(words, array('the','a','of','and')))), 3)
                   AS avg_content_words,
                 sum(CAST(mv_overlap(words, array('data','model')) AS BIGINT))
                   AS mentions,
                 max(mv_to_string(mv_slice(words, 0, 3), ' ')) AS max_prefix3
          FROM graft_dr40_docs
          GROUP BY source ORDER BY source""")
      },
      Some("""WITH w AS (SELECT source, string_split(text, ' ') AS words
                         FROM documents)
              SELECT source, count(*) AS n_docs,
              CAST(sum(len(words)) AS BIGINT) AS total_words,
              CAST(sum(CAST(list_contains(words, 'the') AS BIGINT)) AS BIGINT)
                AS has_the,
              round(avg(len(list_filter(words,
                x -> NOT list_contains(['the','a','of','and'], x)))), 3)
                AS avg_content_words,
              CAST(sum(CAST(list_has_any(words, ['data','model']) AS BIGINT))
                AS BIGINT) AS mentions,
              max(array_to_string(list_slice(words, 1, 3), ' ')) AS max_prefix3
              FROM w GROUP BY source ORDER BY source""")),

    // -- JOIN datasource + LOOKUP datasource: Druid's broadcast join.
    //    The right side is a registered lookup exposed with Druid's
    //    (k, v) schema, prefixed "l."; the condition is Druid
    //    expression syntax with the double-quoted prefixed column.
    //    Spark plans the tiny right side as a BroadcastHashJoin — the
    //    exact execution model Druid uses for joinable datasources, so
    //    the fact side never shuffles at any corpus size.
    Q("dr41_native_join_lookup",
      (s, dir) => {
        graft.sql.DruidLookups.register("event_kind41", Map(
          "click" -> "engagement", "view" -> "engagement",
          "purchase" -> "conversion"))
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy",
          "dataSource": {"type": "join",
            "left": "events",
            "right": {"type": "lookup", "lookup": "event_kind41"},
            "rightPrefix": "l.",
            "condition": "event_type == \"l.k\"",
            "joinType": "LEFT"},
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "kind",
                              "expression": "coalesce(`l.v`, 'other')"}],
          "dimensions": ["kind"],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("kind"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT coalesce(l.v, 'other') AS kind, count(*) AS n,
              round(sum(value), 2) AS total_value
              FROM events LEFT JOIN (VALUES
                ('click', 'engagement'), ('purchase', 'conversion'),
                ('view', 'engagement')) l(k, v)
                ON event_type = l.k
              GROUP BY 1 ORDER BY 1""")),

    // -- QUERY datasource: Druid's nested groupBy. The inner day ×
    //    event_type groupBy feeds the outer per-type aggregate as a
    //    plain subplan — Catalyst fuses both into one job with two
    //    aggregation stages, no materialization boundary.
    Q("dr42_native_nested_groupby",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy",
          "dataSource": {"type": "query", "query": {
            "queryType": "groupBy", "dataSource": "events",
            "granularity": "day",
            "intervals": ["2024-01-01T00:00:00.000Z/2024-01-15T00:00:00.000Z"],
            "dimensions": ["event_type"],
            "aggregations": [{"type": "count", "name": "daily_n"},
              {"type": "doubleSum", "name": "daily_value",
               "fieldName": "value"}]}},
          "granularity": "all",
          "dimensions": ["event_type"],
          "aggregations": [
            {"type": "longSum", "name": "total_n", "fieldName": "daily_n"},
            {"type": "longMax", "name": "max_daily", "fieldName": "daily_n"},
            {"type": "count", "name": "n_days"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("total_n"), col("max_daily"),
                  col("n_days"))
      },
      Some("""WITH daily AS (
                SELECT date_trunc('day', ts) AS d, event_type,
                       count(*) AS daily_n
                FROM events
                WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                  AND ts < TIMESTAMP '2024-01-15 00:00:00'
                GROUP BY 1, 2)
              SELECT event_type, CAST(sum(daily_n) AS BIGINT) AS total_n,
                     CAST(max(daily_n) AS BIGINT) AS max_daily,
                     count(*) AS n_days
              FROM daily GROUP BY 1 ORDER BY 1""")),

    // -- UNION datasource + INLINE datasource: late-arriving literal
    //    rows appended to the segment table; unionByName aligns by
    //    column name and null-fills what the inline member lacks
    //    (Druid's union semantics).
    Q("dr43_native_union_inline",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy",
          "dataSource": {"type": "union", "dataSources": [
            "events",
            {"type": "inline",
             "columnNames": ["event_type", "value"],
             "columnTypes": ["STRING", "DOUBLE"],
             "rows": [["promo", 1.5], ["promo", 2.5], ["click", 10.0]]}]},
          "granularity": "all",
          "dimensions": ["event_type"],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""WITH u AS (
                SELECT event_type, value FROM events
                UNION ALL
                SELECT * FROM (VALUES
                  ('promo', 1.5), ('promo', 2.5), ('click', 10.0))
                  v(event_type, value))
              SELECT event_type, count(*) AS n,
                     round(sum(value), 2) AS total_value
              FROM u GROUP BY 1 ORDER BY 1""")),

    // -- subtotalsSpec: Druid's grouping sets. One Expand-fed
    //    aggregate computes all three sets in a single shuffle
    //    (never one scan per set); dimensions outside a set come
    //    back null, the granularity bucket would stay in every set.
    Q("dr44_native_subtotals",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "intervals": ["2024-01-01T00:00:00.000Z/2024-01-08T00:00:00.000Z"],
          "virtualColumns": [{"type": "expression", "name": "bucket",
                              "expression": "user_id % 3"}],
          "dimensions": ["event_type", "bucket"],
          "subtotalsSpec": [["event_type", "bucket"], ["event_type"], []],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("bucket"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""WITH b AS (
                SELECT event_type, user_id % 3 AS bucket, value FROM events
                WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                  AND ts < TIMESTAMP '2024-01-08 00:00:00')
              SELECT event_type, bucket, count(*) AS n,
                     round(sum(value), 2) AS total_value
              FROM b
              GROUP BY GROUPING SETS ((event_type, bucket), (event_type), ())
              ORDER BY event_type NULLS FIRST, bucket NULLS FIRST""")),

    // -- Native JSON with Druid's SKETCH aggregators — the construct a
    //    real Druid dashboard sends first (thetaSketch / HLLSketchBuild
    //    / quantilesDoublesSketch / cardinality + their post-
    //    aggregators), compiled to the same registered DataSketches
    //    Catalyst aggregates the SQL compat layer uses: raw mergeable
    //    blobs feed the post-aggs, result columns finalize per Druid's
    //    contract. Oracle-exact because every sketch stays in its exact
    //    regime at gate scale (theta/HLL below k over 150 users;
    //    quantiles n <= 2k with k=2048 over ~2k rows/group) — the same
    //    regime-pinning discipline as dr27/dr31. At 100 TB the sketches
    //    leave the exact regime and degrade to Druid-compatible
    //    approximation with map-side partials and binary shuffle blobs.
    Q("dr45_native_sketch_aggs",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": ["event_type"],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "thetaSketch", "name": "theta_users",
             "fieldName": "user_id"},
            {"type": "HLLSketchBuild", "name": "hll_users",
             "fieldName": "user_id", "round": true},
            {"type": "quantilesDoublesSketch", "name": "n_vals",
             "fieldName": "value", "k": 2048},
            {"type": "cardinality", "name": "card_tuples", "byRow": true,
             "round": true, "fields": ["event_type", "user_id"]},
            {"type": "cardinality", "name": "card_union", "round": true,
             "fields": ["event_type", "user_id"]}],
          "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "theta_est",
             "field": {"type": "fieldAccess", "fieldName": "theta_users"}},
            {"type": "quantilesDoublesSketchToQuantile", "name": "p50",
             "field": {"type": "fieldAccess", "fieldName": "n_vals"},
             "fraction": 0.5},
            {"type": "quantilesDoublesSketchToQuantile", "name": "p90",
             "field": {"type": "fieldAccess", "fieldName": "n_vals"},
             "fraction": 0.9}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("n"),
            col("theta_users").cast("long").as("theta_users"),
            col("hll_users"),
            col("n_vals"),
            col("card_tuples"),
            col("card_union"),
            round(col("theta_est"), 1).as("theta_est"),
            round(col("p50"), 2).as("p50"),
            round(col("p90"), 2).as("p90"))
          .orderBy(col("event_type"))
      },
      Some {
        def pick(q: String): String =
          s"round(max(CASE WHEN rn = greatest(1, CAST(ceil($q * c.nv) AS BIGINT)) " +
            s"THEN value END), 2)"
        s"""WITH c AS (SELECT event_type, count(*) AS n,
           |             count(DISTINCT user_id) AS du,
           |             count(value) AS nv
           |           FROM events GROUP BY event_type),
           |r AS (SELECT event_type, value,
           |        row_number() OVER (PARTITION BY event_type
           |                           ORDER BY value) AS rn
           |      FROM events WHERE value IS NOT NULL),
           |q AS (SELECT r.event_type,
           |        ${pick("0.5")} AS p50, ${pick("0.9")} AS p90
           |      FROM r JOIN c ON r.event_type = c.event_type
           |      GROUP BY r.event_type)
           |SELECT c.event_type, c.n,
           |  CAST(c.du AS BIGINT) AS theta_users,
           |  CAST(c.du AS BIGINT) AS hll_users,
           |  CAST(c.nv AS BIGINT) AS n_vals,
           |  CAST(c.du AS BIGINT) AS card_tuples,
           |  CAST(c.du + 1 AS BIGINT) AS card_union,
           |  round(CAST(c.du AS DOUBLE), 1) AS theta_est,
           |  q.p50, q.p90
           |FROM c JOIN q ON c.event_type = q.event_type
           |ORDER BY c.event_type""".stripMargin
      }),

    // -- segmentMetadata: Druid's schema-discovery query (the first
    //    thing the console and client libraries send). Merged analysis
    //    relationalized to one row per column — type, multi-value flag,
    //    dictionary cardinality (string dims), stringified min/max
    //    (__time as epoch micros), numRows. All aggregates land in ONE
    //    declarative pass over one scan; `analysisTypes` scales the
    //    work down exactly as in Druid.
    Q("dr46_native_segment_metadata",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "segmentMetadata", "dataSource": "events"
        }""", _ => eventsSeg(s, dir))
      },
      Some("""SELECT '__time' AS "column", 'LONG' AS type,
                false AS hasMultipleValues, CAST(NULL AS BIGINT) AS cardinality,
                CAST(epoch_ms(min(ts)) AS VARCHAR) AS minValue,
                CAST(epoch_ms(max(ts)) AS VARCHAR) AS maxValue,
                count(*) AS numRows FROM events
              UNION ALL SELECT 'event_type', 'STRING', false,
                count(DISTINCT event_type), min(event_type), max(event_type),
                count(*) FROM events
              UNION ALL SELECT 'props', 'STRING', false,
                count(DISTINCT props), min(props), max(props),
                count(*) FROM events
              UNION ALL SELECT 'user_id', 'LONG', false, NULL,
                CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR),
                count(*) FROM events
              UNION ALL SELECT 'value', 'DOUBLE', false, NULL,
                CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR),
                count(*) FROM events
              ORDER BY 1""")),

    // -- The Druid expression DIALECT verbatim: timestamp_floor /
    //    timestamp_format / case_searched / strlen / substring with
    //    0-based offsets / && / == / ! — the wire syntax every real
    //    native query carries in virtualColumns and expression filters,
    //    which plain Spark SQL cannot parse. DruidExpr translates it
    //    into Catalyst expressions; the whole thing stays one
    //    declarative groupBy.
    Q("dr47_native_druid_exprs",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "intervals": ["2024-01-01T00:00:00.000Z/2024-02-15T00:00:00.000Z"],
          "virtualColumns": [
            {"type": "expression", "name": "day",
             "expression": "timestamp_format(timestamp_floor(__time, 'P1D'), 'yyyy-MM-dd')"},
            {"type": "expression", "name": "vclass",
             "expression": "case_searched(value >= 300, 'high', value >= 100, 'mid', 'low')"},
            {"type": "expression", "name": "et2",
             "expression": "substring(event_type, 0, 2)"}],
          "filter": {"type": "expression",
            "expression": "strlen(event_type) >= 4 && !(event_type == 'view')"},
          "dimensions": ["day", "vclass", "et2"],
          "aggregations": [{"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("day"), col("vclass"), col("et2"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              CASE WHEN value >= 300 THEN 'high'
                   WHEN value >= 100 THEN 'mid' ELSE 'low' END AS vclass,
              substring(event_type, 1, 2) AS et2,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                AND ts < TIMESTAMP '2024-02-15 00:00:00'
                AND length(event_type) >= 4 AND event_type <> 'view'
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // -- doubleMean + the first/last-by-__time aggregator family
    //    (Druid's longFirst/doubleLast/... become min_by/max_by over
    //    the unique event timestamps, so the oracle replays them with
    //    DuckDB's arg_min/arg_max), incl. a FILTERED doubleLast where
    //    the predicate gates the ordering key — last among the
    //    filtered rows only.
    Q("dr48_native_first_last",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": ["event_type"],
          "filter": {"type": "true"},
          "aggregations": [
            {"type": "doubleMean", "name": "avg_value", "fieldName": "value"},
            {"type": "doubleFirst", "name": "first_value", "fieldName": "value"},
            {"type": "doubleLast", "name": "last_value", "fieldName": "value"},
            {"type": "longFirst", "name": "first_user", "fieldName": "user_id"},
            {"type": "filtered",
             "filter": {"type": "bound", "dimension": "value",
                        "lower": "250", "ordering": "numeric"},
             "aggregator": {"type": "doubleLast", "name": "last_high_value",
                            "fieldName": "value"}}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"),
            round(col("avg_value"), 2).as("avg_value"),
            round(col("first_value"), 2).as("first_value"),
            round(col("last_value"), 2).as("last_value"),
            col("first_user"),
            round(col("last_high_value"), 2).as("last_high_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
              round(avg(value), 2) AS avg_value,
              round(arg_min(value, ts), 2) AS first_value,
              round(arg_max(value, ts), 2) AS last_value,
              arg_min(user_id, ts) AS first_user,
              round(arg_max(CASE WHEN value >= 250 THEN value END,
                            CASE WHEN value >= 250 THEN ts END), 2)
                AS last_high_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- Period granularity with a TIME ZONE — what every dashboard in
    //    a non-UTC org sends: "P1D" in America/Los_Angeles buckets by
    //    LOCAL calendar day (trunc in local wall time, reported as the
    //    UTC instant of local midnight). The events span Jan-Feb, all
    //    inside PST (UTC-8, no DST transition), so the oracle replays
    //    the local-day floor with fixed-offset integer math.
    Q("dr49_native_tz_granularity",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": {"type": "period", "period": "P1D",
                          "timeZone": "America/Los_Angeles"},
          "context": {"skipEmptyBuckets": true},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT (((CAST(epoch(ts) AS BIGINT) - 28800) // 86400)
                        * 86400 + 28800) * 1000 AS bucket_ms,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1 ORDER BY 1""")),

    // -- Native groupBy directly ON a multi-value dimension: Druid
    //    groups by VALUE (auto-unnest), not by the whole array — the
    //    semantics a Druid user's existing query relies on. dr6 covers
    //    the manual-explode DataFrame form; this is the wire form, with
    //    a limitSpec ordered by count (dimension ascending tie-break).
    Q("dr50_native_mv_groupby",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "docs",
          "granularity": "all",
          "dimensions": [{"type": "default", "dimension": "words",
                          "outputName": "word"}],
          "aggregations": [{"type": "count", "name": "n"}],
          "having": {"type": "greaterThan", "aggregation": "n", "value": 150},
          "limitSpec": {"type": "default", "limit": 20, "columns":
            [{"dimension": "n", "direction": "descending"}]}
        }""", _ => docsMvSeg(s, dir))
      },
      Some("""SELECT word, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
              GROUP BY word HAVING count(*) > 150
              ORDER BY n DESC, word LIMIT 20""")),

    // -- `context.grandTotal` + ALPHANUMERIC bound ordering, the two
    //    formerly-silent native-compiler fallbacks, exercised together
    //    on the wire: the bound filter compares `concat('u', user_id)`
    //    under Druid's alphanumeric comparator ("u100" admits u100-u149
    //    and rejects u99 — lexicographic would do the opposite), and
    //    the timeseries appends the combined-across-buckets row
    //    (timestamp null) after the per-day rows, outside any limit.
    Q("dr51_native_grand_total",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": "day",
          "virtualColumns": [{"type": "expression", "name": "ukey",
                              "expression": "concat('u', \"user_id\")"}],
          "filter": {"type": "bound", "dimension": "ukey",
                     "lower": "u100", "ordering": "alphanumeric"},
          "context": {"skipEmptyBuckets": true, "grandTotal": true},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("day_ms"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""WITH f AS (SELECT * FROM events WHERE user_id >= 100)
              SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
                     count(*) AS n, round(sum(value), 2) AS total_value
              FROM f GROUP BY 1
              UNION ALL
              SELECT NULL AS day_ms, count(*) AS n,
                     round(sum(value), 2) AS total_value
              FROM f
              ORDER BY day_ms NULLS LAST""")),

    // -- druid-stats `variance` aggregator (sample and population
    //    estimators) + `stddev` post-aggregator — the most common
    //    non-sketch extension aggregators in real dashboards. Spark's
    //    var_samp/var_pop merge Welford partials map-side exactly like
    //    Druid's varianceFold; the 4-decimal round gates well above
    //    float summation-order noise (~1e-6 absolute here).
    Q("dr52_native_variance",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": [{"type": "default", "dimension": "event_type",
                          "outputName": "event_type"}],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "variance", "name": "var_value", "fieldName": "value"},
            {"type": "variance", "name": "varp_value", "fieldName": "value",
             "estimator": "population"}],
          "postAggregations": [
            {"type": "stddev", "name": "sd_value", "fieldName": "var_value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("n"),
                  round(col("var_value"), 4).as("var_value"),
                  round(col("varp_value"), 4).as("varp_value"),
                  round(col("sd_value"), 4).as("sd_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
              round(var_samp(value), 4) AS var_value,
              round(var_pop(value), 4) AS varp_value,
              round(stddev_samp(value), 4) AS sd_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // -- COMPLEX<json> nested columns end-to-end (the modern-Druid
    //    "auto" type; the reference errors on ALL Complex columns,
    //    src/column/mod.rs:59-61): `props` parses to a STRUCT at ingest,
    //    lands as JSON-text blobs in a COMPLEX column tagged "json",
    //    reads back as a JSON STRING, and the query groups on a field
    //    extracted from it — Druid's JSON_VALUE dashboard shape.
    Q("dr53_json_complex",
      (s, dir) => {
        eventsJsonSeg(s, dir)
          .select(col("event_type"),
                  get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"), (col("k") % 10).as("kb"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy(col("event_type"), col("kb"))
      },
      Some("""SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb,
              count(*) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
              FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- druid-spatial filter on the wire: the dimension is Druid's
    //    comma-joined coordinate encoding (built here as a virtual
    //    column), the rectangular bound selects the box — compiled to
    //    per-coordinate comparisons the oracle replays as arithmetic.
    Q("dr54_native_spatial",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "coord",
            "expression": "concat(cast(user_id % 20, 'STRING'), ',', cast(value, 'STRING'))"}],
          "filter": {"type": "spatial", "dimension": "coord",
            "bound": {"type": "rectangular",
                      "minCoords": [5, 100], "maxCoords": [12, 300]}},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT count(*) AS n, round(sum(value), 2) AS total_value
              FROM events
              WHERE (user_id % 20) BETWEEN 5 AND 12
                AND value BETWEEN 100 AND 300""")),

    // -- druid-spatial polygon bound: a CONCAVE polygon (dart with a
    //    notch) over (x = user_id, y = value). The engine compiles the
    //    even-odd ray cast to one unrolled arithmetic expression; the
    //    oracle replays the IDENTICAL per-edge crossing terms in SQL —
    //    both sides are generated from the same vertex list below, so
    //    a transcription slip can't silently agree.
    Q("dr55_native_spatial_polygon",
      (s, dir) => {
        graft.query.NativeQuery.run(s"""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "coord",
            "expression": "concat(cast(user_id, 'STRING'), ',', cast(value, 'STRING'))"}],
          "filter": {"type": "spatial", "dimension": "coord",
            "bound": {"type": "polygon",
                      "abscissa": [${dartXs.mkString(", ")}],
                      "ordinate": [${dartYs.mkString(", ")}]}},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some(s"""SELECT count(*) AS n, round(sum(value), 2) AS total_value
               FROM events
               WHERE ($dartCrossingsSql) % 2 = 1""")),

    // -- the VERSION StringComparator (Druid's StringComparators.VERSION
    //    = Maven version ordering) driving a groupBy limitSpec
    //    dimensionOrder: qualifier releases sort -alpha < -beta < -rc <
    //    bare release, then the numeric segment — the oracle replays
    //    the rank arithmetic that a correct Maven ordering implies for
    //    THESE constrained strings (the general ordering is pinned by
    //    VersionKeySpec's property tests).
    Q("dr56_native_version_order",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "ver",
            "expression": "concat('1.', cast(user_id % 3, 'STRING'), case_searched(user_id % 4 == 1, '-alpha', user_id % 4 == 2, '-beta', user_id % 4 == 3, '-rc', ''))"}],
          "dimensions": ["ver"],
          "aggregations": [{"type": "count", "name": "n"}],
          "limitSpec": {"type": "default", "limit": 15,
            "columns": [{"dimension": "ver",
                         "dimensionOrder": {"type": "version"}}]}
        }""", _ => eventsSeg(s, dir))
      },
      Some("""SELECT ver, n FROM (
                SELECT concat('1.', CAST(user_id % 3 AS VARCHAR),
                         CASE user_id % 4 WHEN 1 THEN '-alpha'
                                          WHEN 2 THEN '-beta'
                                          WHEN 3 THEN '-rc'
                                          ELSE '' END) AS ver,
                       count(*) AS n
                FROM events GROUP BY 1)
              ORDER BY CAST(split_part(split_part(ver, '-', 1), '.', 2) AS BIGINT),
                       CASE WHEN ver LIKE '%-alpha' THEN 0
                            WHEN ver LIKE '%-beta' THEN 1
                            WHEN ver LIKE '%-rc' THEN 2
                            ELSE 3 END
              LIMIT 15""")),

    // -- listFiltered dimension spec on a MULTI-VALUE dimension: the
    //    row's word list is filtered BEFORE unnest, and a row with no
    //    surviving words reports the null group — Druid's
    //    ListFilteredDimensionSpec contract, which a plain WHERE over
    //    the unnested rows cannot express (it would drop those rows).
    Q("dr57_native_mv_list_filtered",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "docs",
          "granularity": "all",
          "dimensions": [{"type": "listFiltered",
            "delegate": {"type": "default", "dimension": "words",
                         "outputName": "word"},
            "values": ["join", "hash", "scan"]}],
          "aggregations": [{"type": "count", "name": "n"}]
        }""", _ => docsMvSeg(s, dir))
      },
      Some("""SELECT word, count(*) AS n FROM (
                SELECT unnest(CASE WHEN len(fw) = 0
                              THEN [CAST(NULL AS VARCHAR)] ELSE fw END) AS word
                FROM (SELECT list_filter(string_split(text, ' '),
                        x -> x = 'join' OR x = 'hash' OR x = 'scan') AS fw
                      FROM documents))
              GROUP BY word ORDER BY word NULLS FIRST""")),

    // -- duration granularity (fixed-ms buckets from a shifted origin,
    //    floor-division bucketing) + the nested-field virtual column
    //    (Druid's NestedFieldVirtualColumn over COMPLEX<json>) in one
    //    wire query: 2-day buckets offset 12 h, summing a JSON-path
    //    long — the oracle replays the integer bucket arithmetic and
    //    the JSON extraction directly.
    Q("dr58_native_duration_nested",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events_json",
          "granularity": {"type": "duration", "duration": 172800000,
                          "origin": "1970-01-01T12:00:00.000Z"},
          "context": {"skipEmptyBuckets": true},
          "virtualColumns": [{"type": "nested-field", "columnName": "props",
            "outputName": "k", "path": "$.k", "expectedType": "LONG"}],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "longSum", "name": "sum_k", "fieldName": "k"}]
        }""", _ => eventsJsonSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"),
                  col("n"), col("sum_k"))
      },
      Some("""SELECT ((CAST(epoch(ts) AS BIGINT) * 1000 - 43200000)
                       // 172800000) * 172800000 + 43200000 AS bucket_ms,
                     count(*) AS n,
                     CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                          AS BIGINT) AS sum_k
              FROM events GROUP BY 1 ORDER BY 1""")),

    // -- topN under a real granularity: per-DAY top-3 event types (one
    //    ranked list per bucket, the shape dashboards render as "top
    //    movers per day") — formerly a silent global-topN wrong-answer;
    //    the oracle replays the per-bucket ranking with a window.
    Q("dr59_native_topn_per_bucket",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "topN", "dataSource": "events",
          "granularity": "day", "dimension": "event_type",
          "threshold": 3, "metric": "n",
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"),
                  col("event_type"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT bucket_ms, event_type, n, total_value FROM (
                SELECT bucket_ms, event_type, n, total_value,
                       row_number() OVER (
                         PARTITION BY bucket_ms
                         ORDER BY n DESC, event_type) AS rk
                FROM (
                  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) * 1000
                           AS bucket_ms,
                         event_type, count(*) AS n,
                         round(sum(value), 2) AS total_value
                  FROM events GROUP BY 1, 2))
              WHERE rk <= 3
              ORDER BY bucket_ms, n DESC, event_type""")),

    // -- the unnest dataSource on the wire (what Druid plans SQL CROSS
    //    JOIN UNNEST into): words explode one row per element with
    //    empty-drop semantics, the unnestFilter prunes post-explode —
    //    the oracle is the directly-equivalent SQL unnest + WHERE.
    Q("dr60_native_unnest_datasource",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy",
          "dataSource": {"type": "unnest", "base": "docs",
            "virtualColumn": {"type": "expression", "name": "word",
                              "expression": "words"},
            "unnestFilter": {"type": "like", "dimension": "word",
                             "pattern": "s%"}},
          "granularity": "all",
          "dimensions": ["word"],
          "aggregations": [{"type": "count", "name": "n"}]
        }""", _ => docsMvSeg(s, dir))
      },
      Some("""SELECT word, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
              WHERE word LIKE 's%'
              GROUP BY word ORDER BY word""")),

    // -- the bucket extractionFn: numeric event values floored into
    //    offset-aligned buckets, grouped as Druid's String.valueOf
    //    double strings — the oracle replays the floor arithmetic and
    //    the double rendering.
    Q("dr61_native_bucket_extraction",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": [{"type": "extraction", "dimension": "value",
            "outputName": "bucket",
            "extractionFn": {"type": "bucket", "size": 50, "offset": 10}}],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(col("bucket"), col("n"),
                  round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT CAST(floor((value - 10) / 50) * 50 + 10 AS VARCHAR)
                       AS bucket,
                     count(*) AS n, round(sum(value), 2) AS total_value
              FROM events
              GROUP BY 1 ORDER BY 1""")),

    // -- VERSION comparator in a bound FILTER (dr56 covers the
    //    ordering path): the lower bound "v1.7" admits v1.10 under
    //    Maven ordering (10 > 7) where lexicographic would reject it —
    //    the oracle replays the numeric-segment comparison.
    Q("dr62_native_version_bound",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": "all",
          "virtualColumns": [{"type": "expression", "name": "ver",
            "expression": "concat('v1.', cast(user_id, 'STRING'))"}],
          "filter": {"type": "bound", "dimension": "ver",
                     "lower": "v1.7", "ordering": {"type": "version"}},
          "aggregations": [{"type": "count", "name": "n"}]
        }""", _ => eventsSeg(s, dir))
      },
      Some("""SELECT count(*) AS n FROM events WHERE user_id >= 7""")),

    // -- greatest/least post-aggregators + a NESTED filtered
    //    aggregator on the wire: the inner count survives two
    //    conjoined filters, and the post-aggs clamp the per-row sums —
    //    all replayed directly in SQL.
    Q("dr63_native_greatest_nested",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": ["event_type"],
          "aggregations": [
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
            {"type": "filtered", "name": "n_big_even",
             "filter": {"type": "bound", "dimension": "value",
                        "lower": "100", "ordering": "numeric"},
             "aggregator": {"type": "filtered",
               "filter": {"type": "expression",
                          "expression": "user_id % 2 == 0"},
               "aggregator": {"type": "count", "name": "inner"}}}],
          "postAggregations": [
            {"type": "doubleGreatest", "name": "g", "fields": [
              {"type": "fieldAccess", "fieldName": "total"},
              {"type": "constant", "value": 5000}]},
            {"type": "doubleLeast", "name": "l", "fields": [
              {"type": "fieldAccess", "fieldName": "total"},
              {"type": "constant", "value": 5000}]}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), round(col("total"), 2).as("total"),
                  col("n_big_even"),
                  round(col("g"), 2).as("g"), round(col("l"), 2).as("l"))
      },
      Some("""SELECT event_type, round(sum(value), 2) AS total,
                     count(*) FILTER (WHERE value >= 100 AND user_id % 2 = 0)
                       AS n_big_even,
                     round(greatest(sum(value), 5000), 2) AS g,
                     round(least(sum(value), 5000), 2) AS l
              FROM events GROUP BY 1 ORDER BY 1""")),

    // -- CALENDAR-period granularity with an origin (fiscal-anchored
    //    monthly buckets, the construct Druid's PeriodGranularity
    //    serves with a non-epoch origin): P1M anchored at the 15th
    //    06:30Z splits January's events across the Dec-15 / Jan-15
    //    buckets. The origin offset (14d 6h30m) is shorter than every
    //    month, so the oracle can replay the bucketing as fixed
    //    shift-truncate-unshift arithmetic — provably identical to
    //    the engine's month-index lattice on that domain.
    Q("dr64_native_period_origin",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": {"type": "period", "period": "P1M",
                          "origin": "2024-01-15T06:30:00.000Z"},
          "context": {"skipEmptyBuckets": true},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"),
                  col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT CAST(epoch(date_trunc('month',
                       ts - INTERVAL 14 DAY - INTERVAL 390 MINUTE)
                     + INTERVAL 14 DAY + INTERVAL 390 MINUTE)
                     AS BIGINT) * 1000 AS bucket_ms,
                     count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1 ORDER BY 1""")),

    // -- weekly origin buckets in a NON-UTC zone: P1W anchored at
    //    Tuesday 10:00 America/Los_Angeles (a retail week). January is
    //    entirely PST (UTC-8, DST starts Mar 10), so the oracle can
    //    replay the local-frame lattice with a fixed 8-hour shift:
    //    local = ts - 8h, floor onto Monday-truncated weeks shifted by
    //    the origin's 34-hour in-week offset, back to UTC.
    Q("dr65_native_week_origin_tz",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": {"type": "period", "period": "P1W",
                          "timeZone": "America/Los_Angeles",
                          "origin": "2024-01-02T18:00:00.000Z"},
          "context": {"skipEmptyBuckets": true},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"),
                  col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT CAST(epoch(date_trunc('week',
                       ts - INTERVAL 8 HOUR - INTERVAL 34 HOUR)
                     + INTERVAL 34 HOUR + INTERVAL 8 HOUR)
                     AS BIGINT) * 1000 AS bucket_ms,
                     count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1 ORDER BY 1""")),

    // -- VERSION bound on a PLAIN dictionary-encoded string dimension:
    //    end-to-end gate for the dictionary-side comparator pushdown.
    //    MvBitmapRewrite reads the compiled version_cmp predicate as a
    //    scan bound; the reader runs the Maven-version comparator once
    //    per DICTIONARY VALUE and row-selects via bitmap union (Druid's
    //    bound-filter execution); the compiled predicate stays as the
    //    residual final word. The oracle replays the numeric-segment
    //    comparison ("v1.10" >= "v1.7" because 10 > 7), like dr62.
    Q("dr66_native_version_bound_dim",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events_ver",
          "granularity": "all",
          "filter": {"type": "bound", "dimension": "ver",
                     "lower": "v1.7", "ordering": {"type": "version"}},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsVerSeg(s, dir))
          .select(col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT count(*) AS n, round(sum(value), 2) AS total_value
              FROM events WHERE user_id >= 7""")),

    // -- month-END period origin (P1M anchored at the 29th 06:00Z,
    //    day-of-month > 28): the construct Joda serves by clamping
    //    the origin's day PER BOUNDARY (Jan 29 stays, Feb 29 clamps
    //    to 28 in non-leap years — never cumulative). Previously a
    //    loud compiler error; now exact (OriginGranSpec pins the
    //    clamp differentially across month-end/leap configs). The
    //    day-29 anchor splits the events domain mid-month, so the
    //    gate checks real bucket assignment on both sides of a
    //    boundary; the oracle replays min(29, month length) with
    //    last_day arithmetic and the one-step-back candidate rule.
    Q("dr67_native_period_origin_day29",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "timeseries", "dataSource": "events",
          "granularity": {"type": "period", "period": "P1M",
                          "origin": "2023-12-29T06:00:00.000Z"},
          "context": {"skipEmptyBuckets": true},
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total_value", "fieldName": "value"}]
        }""", _ => eventsSeg(s, dir))
          .select(unix_millis(col("__time")).as("bucket_ms"),
                  col("n"), round(col("total_value"), 2).as("total_value"))
      },
      Some("""SELECT CAST(epoch(bucket) AS BIGINT) * 1000 AS bucket_ms,
                     count(*) AS n, round(sum(value), 2) AS total_value
              FROM (
                SELECT value,
                       CASE WHEN ts < cand THEN cand_prev ELSE cand END AS bucket
                FROM (
                  -- boundary(month m) = day min(29, len(m)) at 06:00
                  SELECT ts, value,
                         least(date_trunc('month', ts) + INTERVAL 28 DAY,
                               last_day(ts)::TIMESTAMP)
                           + INTERVAL 6 HOUR AS cand,
                         least(date_trunc('month', ts) - INTERVAL 1 MONTH
                                 + INTERVAL 28 DAY,
                               date_trunc('month', ts) - INTERVAL 1 DAY)
                           + INTERVAL 6 HOUR AS cand_prev
                  FROM events))
              GROUP BY 1 ORDER BY 1""")),

    // -- Legacy CONCISE bitmap sections (type 0x00 — the reference's
    //    explicit dead end, src/column/bitmap.rs:32-34): a table written
    //    with bitmapEncoding=concise serves the SAME per-value bitmap
    //    row selection as Roaring — equality/IN pushdown included —
    //    because the reader decodes CONCISE words to Roaring before the
    //    bitmap algebra. ConciseSpec pins word-level decode vectors and
    //    the exact row selection; this gate pins end-to-end values.
    Q("dr68_concise_bitmap_filter",
      (s, dir) => {
        eventsConciseSeg(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS total_value,
              count(DISTINCT user_id) AS n_users
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY event_type ORDER BY event_type""")),

    // -- Multi-value dimension bitmap pushdown: a native selector on an
    //    MV dim means CONTAINS in Druid, served here from the MV
    //    column's per-value bitmap section (new trailer; MvBitmapSpec
    //    pins the exact row selection and the zero-rows-decoded case)
    //    with the compiled array_contains predicate as the residual.
    //    The reference parses hasMultipleValues and drops it
    //    (src/segment/column_descriptor.rs:20-21).
    Q("dr69_mv_selector_bitmap",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "docs",
          "granularity": "all",
          "dimensions": ["source"],
          "filter": {"type": "and", "fields": [
            {"type": "selector", "dimension": "words", "value": "the"},
            {"type": "in", "dimension": "words",
             "values": ["data", "model"]}]},
          "aggregations": [{"type": "count", "name": "n_docs"}]
        }""", _ => docsMvSeg(s, dir))
          .select(col("source"), col("n_docs"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs
              FROM (SELECT source, string_split(text, ' ') AS words
                    FROM documents)
              WHERE list_contains(words, 'the')
                AND (list_contains(words, 'data')
                     OR list_contains(words, 'model'))
              GROUP BY source ORDER BY source""")),

    // -- Druid single_dim range sharding as a WRITE option: `shardBy`
    //    declares an ordered distribution to Catalyst
    //    (RequiresDistributionAndOrdering — one sampled range exchange,
    //    no hand-shuffling), so segments hold disjoint contiguous
    //    ranges of the dimension and the existing min/max-envelope
    //    pruning skips whole segments for dim-targeted filters.
    //    RangeShardSpec pins disjoint envelopes + planned-partition
    //    counts; this gate pins end-to-end values through the sharded
    //    layout. The reference scans whole segments with projection
    //    pushdown only (src/datafusion_ext/table_provider.rs:60-66).
    Q("dr70_range_shard_prune",
      (s, dir) => {
        eventsShardedSeg(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy((col("user_id") % 10).as("user_mod"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"))
          .orderBy(col("user_mod"))
      },
      Some("""SELECT user_id % 10 AS user_mod, count(*) AS n,
              round(sum(value), 2) AS total_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1 ORDER BY 1""")),

    // -- Bound filter on a multi-value dim: Druid matches the row if
    //    ANY array value satisfies the bound; served from the MV
    //    column's per-value bitmaps (qualifying dictionary ids union
    //    their bitmaps — a contiguous O(log dict) range for
    //    lexicographic bounds) with the compiled exists(...) predicate
    //    as the residual final word. MvBitmapSpec pins exact row
    //    selection for lexicographic + strlen orderings; this gate
    //    pins end-to-end values. The reference drops hasMultipleValues
    //    on the floor (src/segment/column_descriptor.rs:20-21).
    Q("dr71_native_mv_bound",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "docs",
          "granularity": "all",
          "dimensions": ["source"],
          "filter": {"type": "bound", "dimension": "words",
                     "lower": "t", "upper": "traditional",
                     "ordering": "lexicographic"},
          "aggregations": [{"type": "count", "name": "n_docs"}]
        }""", _ => docsMvSeg(s, dir))
          .select(col("source"), col("n_docs"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs
              FROM (SELECT source, string_split(text, ' ') AS words
                    FROM documents)
              WHERE len(list_filter(words,
                        x -> x >= 't' AND x <= 'traditional')) > 0
              GROUP BY source ORDER BY source""")),

    // -- PLAIN Spark SQL over an MV dim (no native query): the
    //    MvBitmapRewrite optimizer rule detects AND-reachable
    //    array_contains / arrays_overlap on a druid MV dimension and
    //    re-plans the scan with the per-value bitmap row selection,
    //    keeping the predicate as the residual — ordinary SQL now gets
    //    the same |matching-bitmap| row decode the native path had
    //    (dr69). MvBitmapSpec pins the plan shape, the zero-rows
    //    case, and the OR/NOT no-rewrite guards.
    Q("dr72_mv_sql_bitmap",
      (s, dir) => {
        docsMvSeg(s, dir).createOrReplaceTempView("docs_mv_sql")
        s.sql("""SELECT source, count(*) AS n_docs,
                        sum(doc_id) AS sum_ids
                 FROM docs_mv_sql
                 WHERE array_contains(words, 'the')
                   AND arrays_overlap(words, array('data', 'model'))
                 GROUP BY source ORDER BY source""")
      },
      Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
              FROM (SELECT source, doc_id,
                           string_split(text, ' ') AS words
                    FROM documents)
              WHERE list_contains(words, 'the')
                AND (list_contains(words, 'data')
                     OR list_contains(words, 'model'))
              GROUP BY source ORDER BY source""")),

    // -- NestedCommonFormat V5 ("auto") nested columns end-to-end: a
    //    two-level struct lands field-shredded (global dictionaries +
    //    per-field sub-columns in internal smoosh files, NOT a blob),
    //    reads back as JSON text rebuilt from the field columns, and
    //    answers get_json_object at both nesting depths. Modern Druid's
    //    layout; the reference errors on ALL Complex
    //    (src/column/mod.rs:59-61), and our own pre-V5 path (dr53) is
    //    the blob fallback. NestedColumnSpec pins the structure.
    Q("dr73_nested_common_format",
      (s, dir) => {
        eventsNestedSeg(s, dir)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            get_json_object(col("props"), "$.m.v").cast("double").as("v"),
            get_json_object(col("props"), "$.m.uid").cast("long").as("uid"),
            get_json_object(col("props"), "$.labels[1]").as("parity"))
          .groupBy(col("event_type"), (col("k") % 10).as("kb"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("v")), 2).as("sum_v"),
               countDistinct(col("uid")).as("n_uids"),
               sum(col("parity").cast("long")).as("n_odd"))
          .orderBy(col("event_type"), col("kb"))
      },
      Some("""SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb,
              count(*) AS n,
              round(sum(value), 2) AS sum_v,
              count(DISTINCT user_id) AS n_uids,
              CAST(sum(user_id % 2) AS BIGINT) AS n_odd
              FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- Nested-field equality pushdown over a NestedCommonFormat
    //    column in PLAIN SQL: get_json_object(props, '$.k') IN (...)
    //    rides the per-field value bitmaps (MvBitmapRewrite's nestedEq
    //    clauses; the predicate stays the residual). At 100 TB this is
    //    |matching bitmap| rows decoded instead of reconstructing every
    //    row's JSON to evaluate the filter. NestedPushdownSpec pins the
    //    exact selection, cross-type rendering, and the no-rewrite
    //    guards.
    Q("dr74_nested_field_filter",
      (s, dir) => {
        eventsNestedSeg(s, dir).createOrReplaceTempView("events_nested_sql")
        s.sql("""SELECT event_type, count(*) AS n,
                        round(sum(CAST(get_json_object(props, '$.m.v')
                                       AS DOUBLE)), 2) AS sum_v
                 FROM events_nested_sql
                 WHERE get_json_object(props, '$.k') IN ('7', '42', '87')
                 GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_v
              FROM events
              WHERE CAST(json_extract_string(props, '$.k') AS BIGINT)
                    IN (7, 42, 87)
              GROUP BY 1 ORDER BY 1""")),

    // -- The same nested-field selection on the NATIVE wire: a Druid
    //    `nested-field` virtual column + `in` filter over the
    //    NestedCommonFormat table compiles to the same
    //    get_json_object IN (...) as dr74, so MvBitmapRewrite gives it
    //    the same nestedEq clauses (STRING vcs only — a typed vc's
    //    try_cast can match texts the bitmap probe models differently,
    //    so it stays residual). This is the exact query shape a Druid
    //    dashboard sends against an "auto" column.
    Q("dr75_native_nested_field",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "ev_nested",
          "granularity": "all",
          "dimensions": ["event_type"],
          "virtualColumns": [{"type": "nested-field", "columnName": "props",
            "outputName": "vk", "path": "$.k"}],
          "filter": {"type": "in", "dimension": "vk",
                     "values": ["7", "42", "87"]},
          "aggregations": [{"type": "count", "name": "n"}]
        }""", _ => eventsNestedSeg(s, dir))
          .select(col("event_type"), col("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n
              FROM events
              WHERE CAST(json_extract_string(props, '$.k') AS BIGINT)
                    IN (7, 42, 87)
              GROUP BY 1 ORDER BY 1""")),

    // -- Arrays of OBJECTS in a NestedCommonFormat column: elements
    //    shred into `items[i].field` paths (the StructuredDataProcessor
    //    shape), element extraction via bracketed get_json_object, and
    //    the IN filter on `$.items[1].cat` rides the element-indexed
    //    value bitmaps (the widened nestedEq path gate). The reference
    //    errors on ALL Complex; our own pre-r11 nested writer rejected
    //    object arrays outright.
    Q("dr76_nested_array_objects",
      (s, dir) => {
        eventsNestedArrSeg(s, dir)
          .createOrReplaceTempView("events_nested_arr_sql")
        s.sql("""SELECT event_type,
                        get_json_object(props, '$.items[1].cat') AS g,
                        count(*) AS n,
                        sum(CAST(get_json_object(props, '$.items[0].u')
                                 AS BIGINT)) AS sum_u,
                        round(sum(CAST(get_json_object(props, '$.v')
                                       AS DOUBLE)), 2) AS sum_v
                 FROM events_nested_arr_sql
                 WHERE get_json_object(props, '$.items[1].cat')
                       IN ('g0', 'g2')
                 GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some("""SELECT event_type,
              'g' || CAST(user_id % 3 AS VARCHAR) AS g,
              count(*) AS n,
              CAST(sum(user_id) AS BIGINT) AS sum_u,
              round(sum(value), 2) AS sum_v
              FROM events WHERE user_id % 3 IN (0, 2)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // -- arrayOfDoublesSketch (datasketches-contrib Tuple): distinct
    //    keys + per-key summed metric vectors in ONE aggregator — the
    //    "unique users and their revenue" shape Druid shops install
    //    the tuple extension for. The key is a bounded virtual column
    //    (mod 1000 <= nominalEntries 4096), so the sketch stays in the
    //    exact regime at ANY SF; the metric is floor(value) —
    //    integer-valued doubles sum associatively, so Spark's
    //    partial-merge order and DuckDB's scan order agree
    //    bit-for-bit. n_keys doubles as the exactness witness (equals
    //    the true distinct count only while theta == 1).
    Q("dr77_native_tuple_sketch",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events",
          "granularity": "all",
          "dimensions": ["event_type"],
          "virtualColumns": [
            {"type": "expression", "name": "uk",
             "expression": "mod(user_id, 1000)", "outputType": "LONG"},
            {"type": "expression", "name": "v",
             "expression": "floor(value)", "outputType": "DOUBLE"}],
          "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "arrayOfDoublesSketch", "name": "tup",
             "fieldName": "uk", "metricColumns": ["v"],
             "nominalEntries": 4096}],
          "postAggregations": [
            {"type": "arrayOfDoublesSketchToNumEntries", "name": "n_keys",
             "field": {"type": "fieldAccess", "fieldName": "tup"}},
            {"type": "arrayOfDoublesSketchToMetricsSumEstimate",
             "name": "sums",
             "field": {"type": "fieldAccess", "fieldName": "tup"}}]
        }""", _ => eventsSeg(s, dir))
          .select(col("event_type"), col("n"),
            col("tup").cast("long").as("distinct_users"),
            col("n_keys"),
            round(element_at(col("sums"), 1), 1).as("sum_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(count(DISTINCT user_id % 1000) AS BIGINT)
             |    AS distinct_users,
             |  CAST(count(DISTINCT user_id % 1000) AS BIGINT) AS n_keys,
             |  round(sum(floor(value)), 1) AS sum_v
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Tuple-sketch MERGE over a segment COMPLEX column (dr77 covers
    //    the build side): per-(day, event_type) arrayOfDoubles blobs
    //    written through the segment writer re-aggregate via the
    //    native arrayOfDoublesSketch aggregator WITHOUT metricColumns —
    //    Druid's overload for a pre-sketched column, the rollup
    //    re-aggregation path. Theta stays 1 through every merge, so
    //    the estimate is the exact distinct count and the metric sums
    //    replay in DuckDB.
    Q("dr78_ds_tuple_interop",
      (s, dir) => {
        graft.query.NativeQuery.run("""{
          "queryType": "groupBy", "dataSource": "events_tuple",
          "granularity": "all",
          "dimensions": ["event_type"],
          "aggregations": [
            {"type": "arrayOfDoublesSketch", "name": "tup",
             "fieldName": "users_tuple", "nominalEntries": 4096}],
          "postAggregations": [
            {"type": "arrayOfDoublesSketchToNumEntries", "name": "n_keys",
             "field": {"type": "fieldAccess", "fieldName": "tup"}},
            {"type": "arrayOfDoublesSketchToMetricsSumEstimate",
             "name": "sums",
             "field": {"type": "fieldAccess", "fieldName": "tup"}}]
        }""", _ => dsTupleSeg(s, dir))
          .select(col("event_type"),
            col("tup").cast("long").as("distinct_users"),
            col("n_keys"),
            round(element_at(col("sums"), 1), 1).as("sum_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT)
             |    AS distinct_users,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT) AS n_keys,
             |  round(sum(floor(value)), 1) AS sum_v
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- Druid SQL WINDOW functions (Druid 28+): OVER clauses applied
    //    to an aggregated subquery — cumulative sums, LAG deltas, and
    //    per-partition RANK, exactly the dashboard "trend" shape. The
    //    window input keeps Druid's dialect (time_floor/unix_millis
    //    day bucketing over __time); the reference parses none of
    //    this (its SQL surface is projection+filter only). Windows
    //    partition BY event_type and order by the day bucket — at
    //    100 TB the aggregated input is tiny relative to the scan, so
    //    the single window shuffle never dominates; the GROUP BY
    //    below it rides the same segment pushdown every other gate
    //    uses.
    Q("dr79_druid_sql_window",
      (s, dir) => {
        eventsSeg(s, dir).createOrReplaceTempView("graft_dr79_events")
        s.sql("""
          SELECT event_type, day_ms, n,
                 sum(n) OVER (PARTITION BY event_type ORDER BY day_ms
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_n,
                 coalesce(n - lag(n) OVER (PARTITION BY event_type
                                           ORDER BY day_ms), 0) AS delta_n,
                 rank() OVER (PARTITION BY event_type
                              ORDER BY n DESC, day_ms) AS busiest
          FROM (SELECT event_type,
                       unix_millis(time_floor(__time, 'P1D')) AS day_ms,
                       count(*) AS n
                FROM graft_dr79_events
                WHERE time_in_interval(__time, '2024-01-01/P7D')
                GROUP BY 1, 2)
          ORDER BY event_type, day_ms""")
          .withColumn("cum_n", col("cum_n").cast("long"))
          .withColumn("delta_n", col("delta_n").cast("long"))
          .withColumn("busiest", col("busiest").cast("long"))
      },
      Some("""WITH d AS (
             |  SELECT event_type,
             |    epoch_ms(ts) - (epoch_ms(ts) % 86400000) AS day_ms,
             |    count(*) AS n
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
             |    AND ts < TIMESTAMP '2024-01-08 00:00:00'
             |  GROUP BY 1, 2)
             |SELECT event_type, day_ms, n,
             |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day_ms
             |                    ROWS BETWEEN UNBOUNDED PRECEDING
             |                    AND CURRENT ROW) AS BIGINT) AS cum_n,
             |  CAST(coalesce(n - lag(n) OVER (PARTITION BY event_type
             |                                 ORDER BY day_ms), 0)
             |       AS BIGINT) AS delta_n,
             |  CAST(rank() OVER (PARTITION BY event_type
             |                    ORDER BY n DESC, day_ms) AS BIGINT)
             |    AS busiest
             |FROM d ORDER BY event_type, day_ms""".stripMargin)),

    // -- Druid SQL GROUPING SETS (the SQL form of the native
    //    subtotalsSpec; dr51 gates the native grandTotal context):
    //    three aggregation levels in ONE pass — (type, bucket),
    //    (type), () — with GROUPING() disambiguating real nulls from
    //    subtotal rows, exactly Druid's documented shape. One scan
    //    feeds every level (Spark expands grouping sets map-side, so
    //    at 100 TB this reads the corpus once where three queries
    //    would read it three times).
    Q("dr80_druid_sql_grouping_sets",
      (s, dir) => {
        eventsSeg(s, dir).createOrReplaceTempView("graft_dr80_events")
        s.sql("""
          SELECT event_type, user_id % 3 AS ub,
                 CAST(grouping(event_type) * 2 + grouping(user_id % 3)
                      AS BIGINT) AS lvl,
                 count(*) AS n, round(sum(value), 2) AS sv
          FROM graft_dr80_events
          GROUP BY GROUPING SETS ((event_type, user_id % 3),
                                  (event_type), ())
          ORDER BY lvl, event_type NULLS FIRST, ub NULLS FIRST""")
      },
      Some("""SELECT event_type, user_id % 3 AS ub,
             |  CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 3)
             |       AS BIGINT) AS lvl,
             |  count(*) AS n, round(sum(value), 2) AS sv
             |FROM events
             |GROUP BY GROUPING SETS ((event_type, user_id % 3),
             |                        (event_type), ())
             |ORDER BY lvl, event_type NULLS FIRST, ub NULLS FIRST"""
        .stripMargin)),
  )

  /** Events range-sharded by `event_type` (Druid single_dim layout,
    * written via the shardBy option's declared distribution) — dr70's
    * staging. An equality filter on the shard dim prunes to the one
    * segment whose envelope admits the value. */
  private def eventsShardedSeg(s: SparkSession, dir: String): DataFrame =
    s.read.format("druid").load(segTable("events_shard", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("user_id"),
                col("value")),
      options = Map("shardBy" -> "event_type", "shards" -> "4")))

  /** Events in a segment table whose bitmap sections use the legacy
    * CONCISE encoding (type byte 0x00) — dr68's staging. */
  private def eventsConciseSeg(s: SparkSession, dir: String): DataFrame =
    s.read.format("druid").load(segTable("events_concise", dir,
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("user_id"),
                col("value"))
        .repartition(4),
      options = Map("bitmapEncoding" -> "concise")))

  // dr55's concave test polygon, shared by the native-query JSON and
  // the oracle's replayed ray cast (x = user_id in [0,14], y = value
  // in [0,330]; the notch from (7,150) makes it non-convex)
  private val dartXs = Seq(1.0, 13.0, 13.0, 7.0, 1.0)
  private val dartYs = Seq(20.0, 20.0, 300.0, 150.0, 300.0)

  /** The even-odd crossing count for dr55's oracle: the same per-edge
    * terms the engine unrolls, spelled as DuckDB SQL over
    * px = CAST(user_id AS DOUBLE), py = value.
    */
  private def dartCrossingsSql: String =
    dartXs.indices.map { i =>
      val j = if (i == 0) dartXs.size - 1 else i - 1
      val (xi, yi, xj, yj) = (dartXs(i), dartYs(i), dartXs(j), dartYs(j))
      s"""(CASE WHEN (($yi < value AND $yj >= value)
                      OR ($yj < value AND $yi >= value))
                 AND ($xi + (value - $yi) / ($yj - $yi) * ($xj - $xi)
                      < CAST(user_id AS DOUBLE))
            THEN 1 ELSE 0 END)"""
    }.mkString(" + ")
}
