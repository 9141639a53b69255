package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import SparkEntry.json
object Bench {
  /** Canonicalized physical-plan text: expression ids, plan ids, file
    * locations, runtime statistics and UUIDs stripped, so the SAME logical
    * shape hashes identically across runs, scale factors, and temp dirs.
    * This is the drift adjudicator: a slow query whose planHash is
    * unchanged (and whose run's calibration probe also slowed) is host
    * variance; a changed hash is a real plan regression.
    *
    * Hashes the ANALYZED logical plan plus the optimized plan's scan
    * descriptions — the two DETERMINISTIC layers. Everything below
    * them legitimately varies run-to-run and was observed doing so
    * (this was chased empirically across ~15 full bench runs):
    *  - physical text (executedPlan / post-execution sparkPlan)
    *    prints AQE runtime state — query-stage ids, codegen ids,
    *    broadcast build sides that depend on stage timing (e2's
    *    BroadcastHashJoin flipped BuildLeft/BuildRight between
    *    identical runs);
    *  - even the OPTIMIZED logical plan is not stable: the
    *    distinct-aggregate rewrite assigns `gid`s by iterating an
    *    ExprId-keyed map, and ExprIds depend on how many expressions
    *    the JVM allocated before the query (q9/s6 flipped column
    *    order in Expand between full runs), while InMemoryRelation
    *    nodes embed their cached child's ADAPTIVE physical plan
    *    (d13/e2).
    * The analyzed plan carries the full declared query structure —
    * a changed query definition, a new join, a different aggregate
    * all move the hash; the appended scan descriptions carry the
    * pushdown state (the pushed predicates, limit, aggregates), so
    * a LOST PUSHDOWN moves it too. Optimizer/physical strategy
    * internals are exonerated by design — at bench time their
    * legitimate nondeterminism is noise, and their regressions
    * surface in the timings the fingerprint adjudicates. */
  def canonicalPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    // the pushdown STATE (pushed predicates, limit, aggregates) lives
    // in the Scan's description on the optimized plan — append it per
    // scan or a lost pushdown would not move the hash
    val scans = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    val s = qe.analyzed.toString + scans.mkString("\n--scans--\n", "\n", "")
    s.replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\bid=#?\\d+", "id=x")
      .replaceAll("(?i)file:[^\\s,)\\]]+", "file:x")
      .replaceAll("/[^\\s,)\\]]*(?:testdata|target|tmp|warehouse)[^\\s,)\\]]*", "/x")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "uuid")
      // JVM object identities leak into plan text through Aggregator /
      // typed-UDAF toString (graft.sql.HllMergeAgg@268eefe7) and
      // lambda class names — both vary per JVM, never per plan shape
      .replaceAll("@[0-9a-f]{4,16}\\b", "@x")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda\\$x")
      // shuffle partition COUNTS are tuning (conf/AQE), not plan shape:
      // hashing them made q9's fingerprint depend on which
      // shuffle-partition setting was live at build time. Anchored to
      // the Exchange node's trailing ", <n>), <SHUFFLE_ORIGIN>" so
      // numeric literals inside partitioning EXPRESSIONS are untouched
      .replaceAll(", \\d+\\), (ENSURE_REQUIREMENTS|REPARTITION|REQUIRED)",
        ", n), $1")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
      .replaceAll("\\bsize=\\d+", "size=x")
      .replaceAll("\\browCount=\\d+", "rowCount=x")
      .replaceAll("\\bpaths\\)\\[[^\\]]*\\]", "paths)[x]")
      .replaceAll("memory_\\w+", "memory_x")
      // CTE ids and higher-order-function lambda-variable names are
      // allocated from session-global counters, so they encode how
      // many queries the session analyzed BEFORE this one: the same
      // query captured on pass 1 vs pass 3 of one bench printed
      // `CTERelationDef 4` vs `12` and `lambda x_8#x` vs `x_22#x`
      // (d22/dr56/dr57/dr71, found diffing 1-pass vs 3-pass runs)
      .replaceAll("CTERelation(Def|Ref) \\d+", "CTERelation$1 x")
      .replaceAll("lambda (\\w+?)_\\d+#x", "lambda $1_n#x")
      // Range split counts default to defaultParallelism (= the host's
      // CPU count): the r11 driver bench at local[32] hashed
      // d26/dr32 differently from the builder's round-close at 16
      // CPUs on IDENTICAL code, purely through `splits=Some(16|32)`
      // in spark.range nodes. Parallelism is tuning, not plan shape
      .replaceAll("splits=Some\\(\\d+\\)", "splits=Some(x)")
      // streaming gates name their memory sinks/checkpoints with a
      // shared runtime counter (s13_out_42): the digits shift whenever
      // a query is added BEFORE them in execution order, which made
      // every streaming fingerprint move on unrelated registry growth
      .replaceAll("_out_\\d+", "_out_x")
      // belt-and-braces: if a metadata string still truncated, drop the
      // partial token at the cut so the cut POSITION can't change the hash
      .replaceAll("\\S*\\.\\.\\.", "…")
  }
  def planHash(df: DataFrame): String = hash16(canonicalPlan(df))
  /** The first 16 hex digits of `s`'s SHA-256. */
  private def hash16(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
  /** Fixed CPU-bound calibration job, run once per timed pass. Its timing
    * has no I/O, no shuffle, a constant plan — so run-to-run movement in
    * `calib` measures HOST speed, not engine behavior. A query that drifts
    * 1.3x while calib drifts 1.3x is exonerated mechanically. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // ~1s of work: big enough that scheduler/GC jitter is <10% of the
    // reading, small enough that 3 probes cost ~3s of a ~70s bench
    spark.range(0, 400000000L, 1, 32)
      .selectExpr("bit_xor(xxhash64(id)) as h").collect()
    (System.nanoTime() - t0) / 1e9
  }
  def main(args: Array[String]): Unit = {
    val sfDir = Settings.SfDir.get
    val spark = SparkEntry.session(verify = false)
    val selected = SparkEntry.selected
    // warm codegen/JIT, the parquet reader, and the exchange path so the
    // first measured query isn't charged for session initialization
    try {
      spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 100)").collect()
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().collect()
    } catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }
    // run every query once at the smallest SF to compile its whole-stage
    // codegen / Janino classes outside the timer: rep1-vs-rep2 profiling
    // shows 3-10x first-run JIT cost on the native-expression pipelines,
    // which would otherwise be charged to whichever query runs first
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.foreach { case (name, fn) =>
        try SparkEntry.timedWrite(fn(spark, warmDir))
        catch { case e: Throwable => System.err.println(s"[bench] warm-up $name failed: $e") }
      }
    // one-time staging (writer) happens OUTSIDE the timed loop: dr*
    // timings measure scans, not the writer; staging is its own metric
    val s0 = System.nanoTime()
    SparkEntry.stage(spark, sfDir, selected.map(_._1).toSet)
    val staging = (System.nanoTime() - s0) / 1e9
    // three timed passes, report the per-query MIN: steady-state
    // latency. A single pass wobbles 20-30% run-to-run from JIT/GC/
    // page-cache noise at these sub-second scales, and the round-5
    // drift postmortem (SURVEY §bench-drift) measured min-of-TWO still
    // carrying a 30-40% noise floor on sub-200ms queries — a third
    // pass costs ~50s and pins the steady state (first-pass total is
    // still disclosed).
    // a query that THROWS must never report its fail-fast latency as a
    // timing (a crash would read as a 100x win); record it as an error
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query canonical plan fingerprint, captured on the FINAL pass —
    // the adjudication evidence for bench drift
    val planHashes = scala.collection.mutable.LinkedHashMap[String, String]()
    def pass(capturePlans: Boolean = false): Seq[(String, Double)] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { val df = fn(spark, sfDir)
              SparkEntry.timedWrite(df)
              val dt = (System.nanoTime() - t0) / 1e9
              // hash computation is untimed string work AFTER the clock stops
              if (capturePlans) {
                planHashes(name) = planHash(df)
                // diagnostic: dump the canonical TEXT too, so a hash that
                // moves between runs can be diffed to its exact token
                Settings.PlanTextDir.get.foreach { d =>
                  java.nio.file.Files.createDirectories(
                    java.nio.file.Paths.get(d))
                  java.nio.file.Files.writeString(
                    java.nio.file.Paths.get(d, s"$name.txt"),
                    canonicalPlan(df))
                }
              }
              name -> dt }
        catch { case e: Throwable =>
          errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
          name -> Double.NaN
        }
      }
    // queries that .cache() intermediates (d2/d13/e2) leave their blocks
    // in storage memory; clear between passes so (a) pass2 pays its own
    // cache builds instead of silently reusing pass1's via canonical-plan
    // matching, and (b) accumulated blocks don't pressure GC for later
    // queries in the same pass
    spark.catalog.clearCache()
    graft.pipeline.BarrierCache.releaseCheckpoints()
    val calib0 = calibrate(spark) // warm the calibration plan's codegen
    val calibs = scala.collection.mutable.ArrayBuffer[Double]()
    // pass count: 3 (min-of-3, the driver's steady-state policy) unless
    // a local probe asks for fewer (SPARK_GRAFT_PASSES=1 for scale
    // spot-checks where wall-clock dominates and min-of-N is overkill)
    val nPasses = Settings.Passes.get
    val allPasses = (1 to nPasses).map { i =>
      calibs += calibrate(spark)
      val p = pass(capturePlans = i == nPasses)
      spark.catalog.clearCache()
      // checkpoint blocks (d15/d26/d32) are per-invocation garbage the
      // next pass never reuses; release them eagerly so passes 2-3 run
      // under the same storage-memory conditions as pass 1
      graft.pipeline.BarrierCache.releaseCheckpoints()
      p
    }
    val pass1 = allPasses.head
    // min of the VALID timings; a query that failed in any pass is
    // reported as -1 in `queries` and listed under `errors`
    val results = pass1.map { case (k, _) =>
      val all = allPasses.flatMap(_.collect {
        case (`k`, v) if !v.isNaN => v
      })
      k -> (if (errors.contains(k) || all.isEmpty) -1.0 else all.min)
    }
    val ok = results.filter(_._2 >= 0)
    val qs = results.map { case (k, v) => s"${json(k)}:$v" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${json(k)}:${json(v)}" }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val total1 = pass1.filterNot(_._2.isNaN).map(_._2).sum
    // Standing plan-fingerprint artifact: the driver's tail keeps only the
    // last 2000 chars of output, so the full per-query hash map lives in a
    // committed file; the compact line below carries calib + a digest of
    // this file's `plans` map so artifact and file are verifiably linked.
    val calibJson = calibs.map(c => math.round(c * 10000) / 10000.0)
      .mkString("[", ",", "]")
    val plansJson = planHashes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
    val plansDigest = hash16(plansJson)
    val planFile = Settings.PlanFile.get
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(planFile),
      s"""{"sf":${json(sfDir)},"calib":$calibJson,"calib_warm":$calib0,"plans_digest":${json(plansDigest)},"plans":$plansJson}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] plan-file write failed: $e") }
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","runs":$nPasses,"policy":"min_of_$nPasses","first_pass_total":$total1,"staging":$staging,"n_failed":${errors.size},"errors":$errJson,"queries":$qs,"sf":${json(sfDir)}}"""
    // Standing full-bench artifact: the driver's tail keeps only the
    // last ~2KB of stdout, which truncated round 13's full JSON and
    // emptied the round-over-round PERF comparison (n_common: 0). The
    // committed file makes the per-query map recoverable regardless of
    // how the stdout tail gets cut.
    val benchFile = Settings.BenchFile.get
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchFile), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench-file write failed: $e") }
    println(fullJson)
    // compact one-liner LAST: the driver's artifact keeps only a tail
    // snippet of the output, which can truncate the full JSON above
    // (round-4 BENCH had parsed:null for exactly this reason). This
    // line always fits the tail and stays parseable: total, counts,
    // and the 10 slowest queries.
    val slow = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${json(k)}:${math.round(v * 1000) / 1000.0}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_failed":${errors.size},"calib":$calibJson,"plans_digest":${json(plansDigest)},"planfile":${json(planFile)},"benchfile":${json(benchFile)},"slowest10":$slow,"sf":${json(sfDir)}}""")
    spark.stop()
    // loud on stderr but exit 0: the JSON line above IS the artifact,
    // and it already tags every failure (-1 + errors map)
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
