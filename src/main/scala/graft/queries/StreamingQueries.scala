package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.StreamingOps

/** Structured Streaming, driver-checked: the streaming pipeline runs
  * synchronously (AvailableNow) into a memory sink and the final table
  * is compared against the equivalent batch SQL in DuckDB — the
  * unbounded engine surface under the same correctness gate as batch.
  */
object StreamingQueries extends QuerySet {

  private val nameCounter = new AtomicInteger(0)

  /** Recursive delete of a possibly-stale destination/checkpoint dir. */
  private def deleteDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** Run a stream with `spark.sql.shuffle.partitions = n` and hold the
    * override until the stream TERMINATES. The stream's first-batch
    * analysis reads the session conf asynchronously after `start()`
    * returns, so restoring immediately raced it: whether the state
    * used n or the session default was a coin flip per run — a real
    * nondeterminism in task counts and timing (the bench drift on
    * streaming queries) even though results never depended on it.
    * Callers' own awaitTermination after this returns is a no-op. The
    * widths track each stream's key count (a few thousand rows of
    * state), not batch parallelism; results never depend on them.
    */
  private def withStatePartitions(s: SparkSession, n: Int)(
      body: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      val q = body
      q.awaitTermination(300000)
      q
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Where staged input or output of `kind` over scale dir `dir`
    * lives. The name starts with the kind: Spark's file index skips a
    * path whose name starts with `_` or `.` as hidden, and a scale
    * dir's flattened path starts with `_`.
    */
  private def stagedPath(dir: String, kind: String): String =
    s"/tmp/graft_stream/${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Stage events as a streaming drop directory (once per JVM). */
  private def stageDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "events")
    Staging.once(out) {
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("user_id"),
                col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Stage events as a TIME-ORDERED streaming drop directory: range
    * partitioning by ts into sequential files, each stamped with a
    * strictly ascending modification time, so a file-watch source with
    * maxFilesPerTrigger=1 replays the stream in event-time order — the
    * realistic arrival pattern a production watermark assumes. Once per
    * JVM.
    */
  private def stageOrderedDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "events_bytime")
    Staging.once(out) {
      // 4 range files = 4 micro-batches: enough watermark advances to
      // evict state mid-run (the realism being demonstrated) without
      // paying the stream-stream join's per-batch fixed cost 10x
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("user_id"),
                col("value"))
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(out)
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L)
      }
      out
    }
  }

  /** Stage embeddings as a streaming drop directory (once per JVM). */
  private def stageEmbDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "embeddings")
    Staging.once(out) {
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Stage documents as a streaming drop directory (once per JVM). */
  private def stageDocsDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "documents")
    Staging.once(out) {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Stage events as a segment table the druid stream source tails
    * (s7, s8; once per JVM).
    */
  private def stageTailDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "tailsrc")
    Staging.once(out) {
      Tables.events(s, dir)
        .select(col("ts").as("__time"), col("event_type"), col("value"))
        .repartition(4)
        .write.format("druid").mode("overwrite").save(out)
      DruidQueries.reclaimStagedTrash(out)
      out
    }
  }

  /** Stage events with their JSON props as a streaming drop directory
    * (s14, s15; once per JVM).
    */
  private def stageNestedDir(s: SparkSession, dir: String): String = {
    val out = stagedPath(dir, "nestedsrc")
    Staging.once(out) {
      Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("user_id"),
                col("value"), col("props"))
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  /** Output kinds of the queries that write segment tables under the
    * staging root, each at `<kind>_<n>_<scale dir>` (see [[outputPath]]).
    */
  private val outputKinds = Seq("ingest", "relay", "annidx", "curated", "nested")

  /** Delete, once per JVM, the segment outputs and checkpoints an
    * earlier JVM left for `dir`. The query counter restarts with each
    * JVM, so a rerun writes to the same paths; appending onto the old
    * segments would double every count, and deleting them inside a
    * query would put that delete in the query's time.
    */
  private def clearOutputs(s: SparkSession, dir: String): Unit = {
    val key = stagedPath(dir, "outputs")
    Staging.once(key) {
      val flat = key.stripPrefix(stagedPath("", "outputs"))
      val stale = s"(${outputKinds.mkString("|")})_\\d+_${java.util.regex.Pattern.quote(flat)}(_cp)?".r
      Option(new java.io.File(key).getParentFile.listFiles()).toSeq.flatten
        .filter(f => stale.matches(f.getName)).foreach(f => deleteDir(f.getPath))
    }
  }

  /** A fresh output path of `kind` for one query run over `dir`. */
  private def outputPath(s: SparkSession, dir: String, kind: String): String = {
    clearOutputs(s, dir)
    stagedPath(dir, s"${kind}_${nameCounter.incrementAndGet()}")
  }

  /** Every drop directory and segment table the streams read, and the
    * clearing of earlier JVMs' outputs.
    */
  def staging: Seq[StageJob] = Seq(
    StageJob("events", stageDir), StageJob("events_bytime", stageOrderedDir),
    StageJob("embeddings", stageEmbDir), StageJob("documents", stageDocsDir),
    StageJob("tailsrc", stageTailDir), StageJob("nestedsrc", stageNestedDir),
    StageJob("outputs", clearOutputs))

  def all: Seq[Q] = Seq(

    // Tumbling daily windows over the event stream, complete output mode
    // (deterministic regardless of micro-batch order), checked against
    // the batch equivalent.
    Q("s1_stream_window",
      (s, dir) => {
        val in = stageDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s1_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.windowedAgg(
              StreamingOps.parquetStream(s, in, schema), "1 day", "1 hour")
            .writeStream.outputMode("complete")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .select(col("window_start").cast("date").cast("string").as("day"),
                  col("event_type"), col("n"), col("total_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
              event_type, count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY day, event_type ORDER BY day, event_type""")),

    // Streaming ingest to druid segments: every micro-batch lands as
    // immutable segment dirs (append), the table is read back through
    // the batch connector, and the aggregate must match DuckDB over the
    // original events — the Druid real-time-ingest shape, oracle-gated
    // end to end (stream source -> foreachBatch -> segment writer ->
    // manifest -> DSv2 scan).
    Q("s3_stream_druid_ingest",
      (s, dir) => {
        val in = stageDir(s, dir)
        val schema = s.read.parquet(in).schema
        val out = outputPath(s, dir, "ingest")
        val q = StreamingOps.segmentSink(
          StreamingOps.parquetStream(s, in, schema)
            .select(col("ts").as("__time"), col("event_type"),
                    col("user_id"), col("value")),
          out, s"${out}_cp")
        q.awaitTermination(300000)
        s.read.format("druid").load(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
              count(DISTINCT user_id) AS n_users
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Streaming READ of a segment table (the source half of s3's sink):
    // micro-batches are the segments not yet seen, batch-style pruning
    // applies per batch, offsets are segment-name sets. Complete output
    // mode keeps the final table micro-batch-order independent.
    Q("s7_stream_druid_tail",
      (s, dir) => {
        val seg = stageTailDir(s, dir)
        val table = s"s7_out_${nameCounter.incrementAndGet()}"
        // state is event_type-cardinality (5 rows): without the width
        // override this was the one stateful stream left running at the
        // session's 32 shuffle partitions — 32 state-store instances
        // per micro-batch whose load/commit contention dominated the
        // whole query (streamprof measured the commit-time sum at
        // ~110 s across instances for a 7 s batch)
        val q = withStatePartitions(s, 4) {
          s.readStream.format("druid").load(seg)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
                 round(sum(col("value")), 2).as("total_value"))
            .writeStream.outputMode("complete").format("memory")
            .queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS total_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Streaming exact dedup — continuous-ingest curation: documents
    // arrive as a stream, dropDuplicates keeps state on the 16-byte
    // (source, xxhash64(lower(text))) key (never the text), and the
    // per-source unique count must match the batch DISTINCT. Complete
    // output mode keeps the final table micro-batch-order independent.
    Q("s4_stream_dedup",
      (s, dir) => {
        val in = stageDocsDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s4_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.parquetStream(s, in, schema)
            .withColumn("h", xxhash64(lower(col("text"))))
            .dropDuplicates("source", "h")
            .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table).select(col("source"), col("n_unique"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(DISTINCT lower(text)) AS n_unique
              FROM documents GROUP BY source ORDER BY source""")),

    // Streaming sessionization: session_window merges events separated
    // by < 30 min of idle per user (a new session starts when the gap is
    // >= the timeout — the oracle's gaps-and-islands uses >= to match).
    // Complete mode keeps open sessions mergeable until end-of-stream,
    // so the final table equals the batch computation. Output is the
    // events-per-session histogram, the streaming twin of q27.
    Q("s5_stream_sessions",
      (s, dir) => {
        val in = stageDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s5_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.parquetStream(s, in, schema)
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .groupBy(col("n_events")).agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some("""WITH t AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events),
              s AS (
                SELECT user_id, ts,
                       CASE WHEN prev IS NULL
                              OR ts - prev >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM t),
              g AS (
                SELECT user_id,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM s),
              per AS (
                SELECT user_id, sid, count(*) AS n_events
                FROM g GROUP BY user_id, sid)
              SELECT n_events, count(*) AS n_sessions
              FROM per GROUP BY n_events ORDER BY n_events""")),

    // APPEND-mode sessionization — s5's bounded-state twin: session
    // windows with a realistic 25-hour lateness watermark over the
    // time-ordered drop dir. Each session is emitted exactly once when
    // the watermark passes its end and its state row is evicted
    // (StreamingSpec pins the eviction); sessions still open within the
    // lateness horizon of the stream head remain in state, so the
    // oracle applies the same emission cutoff to the batch
    // gaps-and-islands replay. This is the shape that runs forever at
    // 100 TB/day: state is (lateness + gap) of events per user, never
    // the stream's history.
    Q("s11_stream_sessions_append",
      (s, dir) => {
        val in = stageOrderedDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s11_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.sessionWindowAppend(
              StreamingOps.parquetStream(s, in, schema,
                maxFilesPerTrigger = Some(1)),
              gap = "30 minutes", lateness = "25 hours")
            .writeStream.outputMode("append")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .groupBy(col("n_events")).agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some("""WITH t AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events),
              s AS (
                SELECT user_id, ts,
                       CASE WHEN prev IS NULL
                              OR ts - prev >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM t),
              g AS (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM s),
              per AS (
                SELECT user_id, sid, count(*) AS n_events,
                       max(ts) + INTERVAL 30 MINUTE AS s_end
                FROM g GROUP BY user_id, sid),
              m AS (SELECT max(ts) - INTERVAL 25 HOUR AS wm FROM events)
              SELECT n_events, count(*) AS n_sessions
              FROM per, m WHERE s_end <= wm
              GROUP BY n_events ORDER BY n_events""")),

    // Stream-stream inner join: clicks joined to purchases of the same
    // user within the following hour, both sides streaming in
    // EVENT-TIME ORDER (time-range-partitioned drop dir, one file per
    // micro-batch) under a realistic 25-hour lateness watermark — NOT
    // one sized to the corpus span. The watermark + time-range
    // condition bound join state to ~(lateness + window) of events
    // while the emitted pair set stays exactly the batch join
    // (StreamingSpec pins state-row eviction via the progress metrics).
    Q("s6_stream_stream_join",
      (s, dir) => {
        val in = stageOrderedDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s6_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 2) {
          StreamingOps.clickPurchaseJoin(s, in, schema,
              lateness = "25 hours", maxFilesPerTrigger = Some(1))
            .writeStream.outputMode("append")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .agg(count(lit(1)).as("n_pairs"),
               countDistinct(col("c_user")).as("n_users"),
               countDistinct(col("c_id")).as("n_clicks"))
      },
      Some("""SELECT count(*) AS n_pairs,
              count(DISTINCT c.user_id) AS n_users,
              count(DISTINCT c.event_id) AS n_clicks
              FROM events c JOIN events p
                ON c.user_id = p.user_id
               AND c.event_type = 'click' AND p.event_type = 'purchase'
               AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""")),

    // Druid-to-druid streaming relay — the streaming-ETL shape that
    // composes BOTH custom halves end to end: readStream tails the
    // source segment table (micro-batches = unseen segments), a
    // stateless transform filters and derives a value-class dimension,
    // and writeStream lands the result as segments through the atomic
    // epoch-marker sink. The final table is read back by the batch
    // connector and must match DuckDB over the raw events — exactly-
    // once across the whole source -> transform -> sink chain. At
    // scale this is continuous segment-table to segment-table ETL:
    // per-epoch work is bounded by new segments, never the table.
    Q("s8_stream_druid_relay",
      (s, dir) => {
        val seg = stageTailDir(s, dir)
        val out = outputPath(s, dir, "relay")
        val q = StreamingOps.segmentSink(
          s.readStream.format("druid").load(seg)
            .filter(col("event_type") =!= "view")
            .withColumn("vclass",
              when(col("value") >= 250, "high").otherwise("low")),
          out, s"${out}_cp")
        q.awaitTermination(300000)
        s.read.format("druid").load(out)
          .groupBy(col("event_type"), col("vclass"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("value")), 2).as("total_value"))
          .orderBy(col("event_type"), col("vclass"))
      },
      Some("""SELECT event_type,
              CASE WHEN value >= 250 THEN 'high' ELSE 'low' END AS vclass,
              count(*) AS n, round(sum(value), 2) AS total_value
              FROM events WHERE event_type <> 'view'
              GROUP BY event_type, vclass
              ORDER BY event_type, vclass""")),

    // Stateful streaming (mapGroupsWithState running totals): final
    // per-user state vs the batch aggregate.
    Q("s2_stream_state",
      (s, dir) => {
        import s.implicits._
        val in = stageDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s2_out_${nameCounter.incrementAndGet()}"
        val ds = StreamingOps.parquetStream(s, in, schema)
          .select(col("user_id"), col("event_type"), col("value"))
          .as[StreamingOps.UserEvent]
        val q = withStatePartitions(s, 4) {
          StreamingOps.runningUserTotals(ds)
            .writeStream.outputMode("update")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        // update mode may emit a user several times; the LAST state per
        // user is the running total
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("n_events").desc)
        s.table(table)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("n_events"),
                  round(col("total_value"), 2).as("total_value"))
          .filter(col("user_id") < 200)
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
              round(sum(value), 2) AS total_value
              FROM events WHERE user_id < 200
              GROUP BY user_id ORDER BY user_id""")),

    // TTL'd streaming dedup: dropDuplicatesWithinWatermark keeps dedup
    // state only until the watermark passes it — the bounded-state
    // variant of s4's dropDuplicates, whose state otherwise grows with
    // every key ever seen (the thing that falls over at 100 TB). The
    // dedup key embeds the event-time day, so duplicate copies of a key
    // are at most 24 h apart in event time; with a 2-day delay over the
    // time-ordered drop dir, no copy arrives after its key's state
    // expired, and the emitted set is EXACTLY the batch distinct
    // (StreamingSpec additionally pins that state rows get evicted
    // mid-run). Watermark = expected lateness, NOT the corpus span.
    Q("s9_stream_dedup_ttl",
      (s, dir) => {
        val in = stageOrderedDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s9_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.parquetStream(s, in, schema,
              maxFilesPerTrigger = Some(1))
            .withColumn("day", date_trunc("day", col("ts")))
            .withWatermark("ts", "2 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
            .writeStream.outputMode("append")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_unique"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_unique FROM (
                SELECT DISTINCT event_type, user_id,
                       date_trunc('day', ts) AS day FROM events)
              GROUP BY event_type ORDER BY event_type""")),

    // Streaming ANN-INDEX ingest — the continuous half of e4's
    // build/serve split: embedding vectors arrive as a stream, each is
    // assigned map-side to its nearest IVF centroid (the 8 centroids
    // ride the plan as LITERALS — 8x64 floats, Druid-lookup-style
    // broadcast; the argmax is an array_max over per-centroid cosine
    // structs, so there is NO shuffle and NO state), and assignments
    // land as druid segments through the exactly-once streaming sink,
    // cell column first — the inverted-list layout IVF serving reads.
    // At 100 TB/day this is how the serving index stays current:
    // per-epoch work is bounded by new vectors, the corpus is never
    // re-assigned. The gate reads the landed table back and checks
    // per-cell counts and a cosine checksum against the DuckDB replay
    // of the same assignment (same ordered-fold dot product, same
    // round-then-rank).
    Q("s12_stream_ann_ingest",
      (s, dir) => {
        val in = stageEmbDir(s, dir)
        val schema = s.read.parquet(in).schema
        val cents = Tables.load(s, dir, "embeddings")
          .filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        def cos(c: Array[Float]) = {
          val cl = typedLit(c)
          round(call_udf("dot_f", col("embedding"), cl) /
            (sqrt(call_udf("dot_f", col("embedding"), col("embedding"))) *
             sqrt(call_udf("dot_f", cl, cl))), 6)
        }
        val best = array_max(array(cents.map { case (cid, arr) =>
          struct(cos(arr).as("c"), lit(-cid.toInt).as("nc"))
        }: _*))
        val out = outputPath(s, dir, "annidx")
        val q = StreamingOps.segmentSink(
          StreamingOps.parquetStream(s, in, schema)
            .withColumn("best", best)
            .select(
              timestamp_seconds(lit(1704067200L) + col("vec_id")).as("__time"),
              col("vec_id"),
              (col("best.nc") * -1).cast("long").as("cell"),
              col("best.c").as("cos")),
          out, s"${out}_cp")
        q.awaitTermination(300000)
        s.read.format("druid").load(out)
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"), round(sum(col("cos")), 4).as("sum_cos"))
          .orderBy(col("cell"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |    sqrt((SELECT sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)
             |          FROM range(64) t(i))) AS nrm
             |  FROM embeddings),
             |cent AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
             |         FROM e WHERE vec_id < 8),
             |ac AS (SELECT v.vec_id, c.cid,
             |    round((SELECT sum(v.embedding[i+1]::DOUBLE * c.cv[i+1]::DOUBLE)
             |           FROM range(64) t(i)) / (v.nrm * c.cnrm), 6) AS cos
             |  FROM e v, cent c),
             |assign AS (SELECT vec_id, cid AS cell, cos FROM (
             |    SELECT vec_id, cid, cos,
             |      row_number() OVER (PARTITION BY vec_id
             |                         ORDER BY cos DESC, cid) AS rn
             |    FROM ac) WHERE rn = 1)
             |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
             |  round(sum(cos), 4) AS sum_cos
             |FROM assign GROUP BY cell ORDER BY cell""".stripMargin)),

    // Streaming CURATION pipeline — the composition a production
    // training-data system runs continuously: documents stream in,
    // per-row quality stats (d6's formula) gate admission map-side (no
    // state, no shuffle — quality filtering streams through the scan),
    // survivors land in a druid segment table via the streaming sink's
    // atomic epochs, and the gate checks the CURATED TABLE read back
    // through the batch connector against DuckDB applying the same
    // filter to the raw corpus. Event time is synthesized
    // deterministically from doc_id so the segment time axis (and its
    // round trip) is oracle-checkable.
    Q("s10_stream_curation",
      (s, dir) => {
        val in = stageDocsDir(s, dir)
        val schema = s.read.parquet(in).schema
        val out = outputPath(s, dir, "curated")
        val q = StreamingOps.segmentSink(
          StreamingOps.parquetStream(s, in, schema)
            .selectExpr("doc_id", "source",
              "CAST(length(text) AS BIGINT) AS n_chars",
              s"CAST(${graft.pipeline.TextOps.wordCountNativeSql} AS BIGINT) AS n_words")
            .withColumn("avg_word_len",
              (col("n_chars") - col("n_words") + 1).cast("double") /
                col("n_words"))
            .filter(col("n_words") >= 40 &&
              col("avg_word_len") >= 3.0 && col("avg_word_len") <= 8.0)
            .select(timestamp_seconds(lit(1704067200L) + col("doc_id"))
                      .as("__time"),
                    col("doc_id"), col("source"), col("n_chars"),
                    col("n_words")),
          out, s"${out}_cp")
        q.awaitTermination(300000)
        s.read.format("druid").load(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
               sum(col("n_chars")).as("total_chars"),
               unix_seconds(max(col("__time"))).as("last_epoch"))
          .orderBy(col("source"))
      },
      Some("""WITH st AS (
                SELECT source, doc_id,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CAST(length(text) - length(replace(text, ' ', '')) + 1
                            AS BIGINT) AS n_words
                FROM documents)
              SELECT source, count(*) AS n_kept,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(1704067200 + max(doc_id) AS BIGINT) AS last_epoch
              FROM st
              WHERE n_words >= 40
                AND (n_chars - n_words + 1) * CAST(1 AS DOUBLE) / n_words
                    BETWEEN 3 AND 8
              GROUP BY source ORDER BY source""")),

    // Streaming heavy hitters: the ds_freq Frequent-Items aggregate as
    // STREAMING STATE — per-source sketch buffers live in the state
    // store across micro-batches (a TypedImperativeAggregate's buffer
    // serializes like any other agg state), so per-key state is
    // bounded by maxMapSize no matter how many distinct tokens stream
    // through — the always-on vocabulary monitor a live ingest
    // pipeline runs. The corpus sits in the sketch's exact regime, so
    // the final top-5 per source matches d30's batch answer and the
    // oracle replays true counts (max_err pinned 0).
    Q("s13_stream_heavy_hitters",
      (s, dir) => {
        val in = stageDocsDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s13_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          // one file per micro-batch: the sketch state MUST merge
          // across batches, not get built in a single pass
          StreamingOps.parquetStream(s, in, schema,
              maxFilesPerTrigger = Some(1))
            .select(col("source"), explode(split(col("text"), " ")).as("tok"))
            .groupBy(col("source"))
            .agg(expr("ds_freq(tok, 128)").as("sk"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .select(col("source"),
            expr("ds_freq_max_error(sk)").as("max_err"),
            posexplode(expr("ds_freq_topk(sk, 5)")))
          .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
            col("col.item").as("tok"), col("col.est").as("n"),
            col("max_err"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             |          FROM documents),
             |c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
             |r AS (SELECT source, tok, n, row_number() OVER (
             |        PARTITION BY source ORDER BY n DESC, tok) AS rank
             |      FROM c)
             |SELECT source, CAST(rank AS BIGINT) AS rank, tok, n,
             |  CAST(0 AS BIGINT) AS max_err
             |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // Streaming ingestion into NESTED-encoded segments: each
    // micro-batch commits NestedCommonFormat columns through the same
    // atomic append path (one file per trigger forces real cross-epoch
    // nested appends), and the read-back answers bracket-free AND
    // nested-field-filtered get_json_object — the shape of a Kafka →
    // Druid "auto"-column ingestion pipeline. The filter rides the
    // per-field value bitmaps on every committed segment (dr74's
    // pushdown, here over streaming-written segments).
    Q("s14_stream_nested_ingest",
      (s, dir) => {
        val in = stageNestedDir(s, dir)
        val schema = s.read.parquet(in).schema
        val out = outputPath(s, dir, "nested")
        val stream = StreamingOps.parquetStream(s, in, schema,
            maxFilesPerTrigger = Some(1))
          // one source file per trigger = ONE input split: repartition
          // inside the micro-batch so every epoch writes with real
          // parallelism (the sf10 probe measured the unrepartitioned
          // pipeline epoch-serial at one task per trigger — at 100 TB
          // an ingest pipeline always shuffles to writer parallelism)
          .repartition(8)
          .select(col("ts").as("__time"), col("event_type"),
            struct(
              get_json_object(col("props"), "$.k").cast("long").as("k"),
              struct(col("user_id").as("uid"), col("value").as("v"))
                .as("m")).as("props"))
        val q = StreamingOps.segmentSink(stream, out, s"${out}_cp",
          options = Map("complexTypes" -> "props:json",
                        "jsonEncoding" -> "nested"))
        q.awaitTermination(300000)
        s.read.format("druid").load(out)
          .filter(get_json_object(col("props"), "$.k").isin("7", "42", "87"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(get_json_object(col("props"), "$.k").cast("long"))
                 .as("sum_k"),
               countDistinct(get_json_object(col("props"), "$.m.uid")
                 .cast("long")).as("n_uids"),
               round(sum(get_json_object(col("props"), "$.m.v")
                 .cast("double")), 2).as("sum_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |       AS BIGINT) AS sum_k,
             |  count(DISTINCT user_id) AS n_uids,
             |  round(sum(value), 2) AS sum_v
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT)
             |      IN (7, 42, 87)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming Tuple sketches: per-group state is ONE
    // nominalEntries-bounded arrayOfDoubles blob (distinct users AND
    // their summed metric vectors) instead of the full (user, sum)
    // table — s13's bounded-state shape, extended to the
    // "unique users + revenue" aggregate. One file per trigger forces
    // real cross-batch sketch-state merges; the key is
    // bounded-cardinality (theta stays 1) and the metric is
    // integer-valued floor(value), so the streamed answer is
    // oracle-exact, identical to q42's batch/routed value.
    Q("s15_stream_tuple_sketch",
      (s, dir) => {
        val in = stageNestedDir(s, dir)
        val schema = s.read.parquet(in).schema
        val table = s"s15_out_${nameCounter.incrementAndGet()}"
        val q = withStatePartitions(s, 4) {
          StreamingOps.parquetStream(s, in, schema,
              maxFilesPerTrigger = Some(1))
            .select(col("event_type"),
              expr("cast(user_id % 100 as string)").as("uk"),
              expr("array(floor(value))").as("m"))
            .groupBy(col("event_type"))
            .agg(expr("ds_tuple(uk, m, 4096)").as("sk"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(table)
            .trigger(Trigger.AvailableNow()).start()
        }
        q.awaitTermination(300000)
        s.table(table)
          .select(col("event_type"),
            expr("ds_tuple_estimate(sk)").cast("long").as("distinct_users"),
            expr("ds_tuple_n(sk)").as("n_keys"),
            round(expr("element_at(ds_tuple_metrics_sum(sk), 1)"), 1)
              .as("sum_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT)
             |    AS distinct_users,
             |  CAST(count(DISTINCT user_id % 100) AS BIGINT) AS n_keys,
             |  round(sum(floor(value)), 1) AS sum_v
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
