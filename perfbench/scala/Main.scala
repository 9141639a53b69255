package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one result line,
  * `GRAFTBENCH {json}`, for perfbench/run.py.
  *
  *   --workload NAME --seed N --seconds N --trace 0|1 --work DIR
  *   [--malformed 1]
  *
  * `--malformed 1` replaces one timed op by a request the program must
  * refuse (broker only); the run must then fail. It exists for the
  * self-check in check_determinism.py.
  *
  * The op count of a run is fixed by the workload and `--seconds`;
  * throughput is that fixed work divided by its wall time.
  */
object Main {
  final case class Pass(latMs: Seq[Double], wallS: Double, results: Seq[Result],
                        startMs: Seq[Long]) {
    def digests: Seq[String] = results.map(_.digest)
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[3]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.default.parallelism", "3")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def make(name: String, spark: SparkSession, dir: String): Workload = name match {
    case "broker_dashboard" => new BrokerWorkload(spark, dir, 150000L, 40000L)
    case "ingest_compact" => new IngestWorkload(spark, dir, 20000, 1000, 10)
    case "pipeline_dedup" => new PipelineWorkload(spark, dir, 3000, 800)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("broker_dashboard", "ingest_compact", "pipeline_dedup")

  /** Warm-up ops are drawn from this seed, never from the run's own. */
  def warmSeed(seed: Long): Long = seed ^ 0x5deece66dL

  /** Run `ops` closed-loop: each op starts when the previous one ended.
    * With a trace, every second op is traced: its spans and counts are
    * recorded and it is followed by its layer replay, which is excluded
    * from the wall time. The listener counts a traced op's jobs only:
    * the bus is drained, outside the timed region, before counting
    * starts and again before it stops.
    */
  def pass(w: Workload)(ops: IndexedSeq[w.Op], listener: ExecListener,
                        trace: Option[Trace]): Pass = {
    val sc = w.spark.sparkContext
    val t = trace.getOrElse(new Trace)
    val lat = new Array[Double](ops.size)
    val results = new Array[Result](ops.size)
    val starts = new Array[Long](ops.size)
    var wallNs = 0L
    ops.indices.foreach { i =>
      t.op = i
      t.active = trace.isDefined && i % 2 == 1
      if (t.active) { ExecListener.drain(sc); listener.counting = true }
      val (c0, a0) = (Codegen.compiles, Alloc.bytes)
      starts(i) = System.currentTimeMillis()
      val t0 = System.nanoTime()
      results(i) = try ExecListener.withPhase(sc, "op")(w.run(ops(i), t))
        catch { case e: Exception => Result(s"error:${e.getClass.getName}:${e.getMessage}") }
      val t1 = System.nanoTime()
      w.between(i, t)
      val t2 = System.nanoTime()
      if (t.active) { ExecListener.drain(sc); listener.counting = false }
      lat(i) = (t1 - t0) / 1e6
      wallNs += t2 - t0
      if (t.active) {
        t.count("exec.codegen_compiles", (Codegen.compiles - c0).toDouble)
        t.count("exec.codegen_compile_ms", Codegen.meanMs)
        t.count("exec.alloc_mb", (Alloc.bytes - a0) / 1e6)
        t.count("op.latency_ms", lat(i))
        try ExecListener.withPhase(sc, "replay")(t.span("replay")(w.replay(ops(i), t)))
        catch { case e: Exception => System.err.println(s"[graftbench] replay failed: $e") }
      }
    }
    t.active = false
    Pass(lat.toSeq, wallNs / 1e9, results.toSeq, starts.toSeq)
  }

  /** Whether each op of a pass gave its expected output. */
  def verify(w: Workload)(ops: IndexedSeq[w.Op], p: Pass): Seq[Boolean] = {
    val exp = w.expected(ops, p.results)
    p.results.zip(exp).zipWithIndex.map { case ((r, e), i) =>
      val good = e != null && r.digest == e && !r.digest.startsWith("error:")
      if (!good) System.err.println(s"[graftbench] ${w.name} op $i: got ${r.digest} expected $e")
      good
    }
  }

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** JVM memory the program holds: heap in use after a full collection
    * plus non-heap in use (metaspace, code cache). Unlike the RSS it does
    * not depend on how much of the fixed heap the collector has touched.
    * The first collection lets Spark's ContextCleaner drop the blocks of
    * unreachable broadcasts and shuffles; the second frees them.
    */
  private def liveMemMb(): (Double, Double) = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(500)
    System.gc()
    (mem.getHeapMemoryUsage.getUsed / 1e6, mem.getNonHeapMemoryUsage.getUsed / 1e6)
  }

  /** Collections and collection time of this JVM so far. */
  private def gcTotals: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(names.contains(name), s"unknown workload '$name' (one of ${names.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val malformed = opts.getOrElse("malformed", "0") == "1"
    val work = opts("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val w = make(name, spark, s"$work/data")
    val stageT0 = System.nanoTime()
    w.setup(seed)
    val stageS = (System.nanoTime() - stageT0) / 1e9
    val n = math.max(8, math.round(w.opsPerSecond * seconds).toInt)
    // warm-up, drawn from another seed
    val warmT0 = System.nanoTime()
    pass(w)(w.ops(warmSeed(seed), w.warmup), listener, None)
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val record = mutable.LinkedHashMap[String, String]()
    var attempted = 0
    var failed = 0
    def tally(ok: Seq[Boolean]): Unit = { attempted += ok.size; failed += ok.count(!_) }
    val ops = if (malformed) w.malformed(w.ops(seed, n), n / 2) else w.ops(seed, n)

    if (!traced) {
      val (gcN0, gcMs0) = gcTotals
      val p = pass(w)(ops, listener, None)
      val (gcN1, gcMs1) = gcTotals
      val (heapMb, nonHeapMb) = liveMemMb()
      val checkT0 = System.nanoTime()
      val ok = verify(w)(ops, p)
      record("check_s") = f"${(System.nanoTime() - checkT0) / 1e9}%.3f"
      tally(ok)
      metrics("setup_s") = (setupS, "s")
      metrics("success_rate") = (ok.count(identity).toDouble / ok.size, "ratio")
      metrics("live_mem_mb") = (heapMb + nonHeapMb, "MB")
      metrics("ops_per_s") = (ops.size / p.wallS, "1/s")
      metrics("latency_p50_ms") = (Stats.pctByKind(p.latMs, ops.map(_.label), 50), "ms")
      metrics("latency_p90_ms") = (Stats.pctByKind(p.latMs, ops.map(_.label), 90), "ms")
      metrics("bytes_stored_per_user_byte") = (w.storedBytes.toDouble / w.userBytes, "ratio")
      record("op_sequence_hash") = Common.sha(ops.mkString("\n"))
      record("result_hash") = Common.sha(p.digests.mkString("\n"))
      record("ops") = ops.size.toString
      record("op_start_ms") = p.startMs.mkString("[", ",", "]")
      record("op_labels") = ops.map("\"" + _.label + "\"").mkString("[", ",", "]")
      record("op_latency_ms") = p.latMs.map(x => f"$x%.2f").mkString("[", ",", "]")
      record("timed_gc_count") = (gcN1 - gcN0).toString
      record("timed_gc_ms") = (gcMs1 - gcMs0).toString
      record("vm_hwm_mb") = f"$vmHwmMb%.1f"
      record("live_heap_mb") = f"$heapMb%.1f"
      record("live_non_heap_mb") = f"$nonHeapMb%.1f"
      record("session_s") = f"$sessionS%.3f"
      record("staging_s") = f"$stageS%.3f"
      record("warmup_s") = f"$warmS%.3f"
    } else {
      // every second op traced; the overhead compares traced and
      // untraced ops of the same pass, kind by kind
      val t = new Trace
      val p = pass(w)(ops, listener, Some(t))
      tally(verify(w)(ops, p))
      val byKind = p.latMs.zip(ops.map(_.label)).zipWithIndex
        .groupBy { case ((_, k), _) => k }.values.map { g =>
          val (tr, un) = g.partition(_._2 % 2 == 1)
          def mean(xs: Seq[((Double, String), Int)]) = xs.map(_._1._1).sum / xs.size
          math.log(mean(tr.toSeq) / mean(un.toSeq))
        }
      metrics("trace.overhead_pct") = (100.0 * (math.exp(byKind.sum / byKind.size) - 1), "%")
      val perOp = 1.0 / (n / 2)
      metrics("exec.jobs") = (listener.jobs.sum * perOp, "count")
      metrics("exec.stages") = (listener.stages.sum * perOp, "count")
      metrics("exec.tasks") = (listener.tasks.sum * perOp, "count")
      metrics("exec.failed_tasks") = (listener.failedTasks.sum.toDouble, "count")
      metrics("exec.task_cpu_ms") = (listener.cpuNs.sum / 1e6 * perOp, "ms")
      metrics("exec.shuffle_write_bytes") = (listener.shuffleWrite.sum * perOp, "bytes")
      metrics("exec.shuffle_read_bytes") = (listener.shuffleRead.sum * perOp, "bytes")
      metrics("exec.spill_bytes") = (listener.spill.sum * perOp, "bytes")

      // decode sweep over one staged table per writer encoding
      val fmt = LayerBench.stage(spark, s"$work/fmt", seed, 200000L)
      t.active = true
      LayerBench.run(fmt, 5, t)
      t.active = false

      // layers this workload's ops never reach are measured by a probe:
      // each other workload at its own scale, warmed up like a run of its
      // own, then a few of its ops, every second one traced. The record
      // names the metrics that came from the probe; the probe's ops are
      // checked and count in `attempted` and `failed`.
      val probe = new Trace
      val probeOps = mutable.ArrayBuffer[String]()
      names.filterNot(_ == name).foreach { other =>
        val pw = make(other, spark, s"$work/probe-$other")
        pw.setup(seed)
        pass(pw)(pw.ops(warmSeed(seed), pw.warmup), listener, None)
        val pops = pw.ops(seed, pw.probeOps)
        val ok = verify(pw)(pops, pass(pw)(pops, listener, Some(probe)))
        tally(ok)
        probeOps += s""""$other":{"attempted":${ok.size},"failed":${ok.count(!_)}}"""
        pw.close()
      }
      metrics("write.bytes_per_user_byte") = (w.writtenBytes.toDouble / w.userBytes, "ratio")
      val (layer, probed) = layerMetrics(t, probe)
      layer.foreach { case (k, v) => metrics(k) = v }
      record("probed_metrics") = probed.map("\"" + _ + "\"").mkString("[", ",", "]")
      record("probe_ops") = probeOps.mkString("{", ",", "}")
      record("trace") = t.toJson
    }
    w.close()
    val m = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${jsonNum(v)},"unit":"$u"}""" }.mkString(",")
    val r = record.map { case (k, v) =>
      s""""$k":${if (v.startsWith("{") || v.startsWith("[")) v else "\"" + v + "\""}""" }
      .mkString(",")
    println(s"""GRAFTBENCH {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$m},"record":{$r}}""")
    System.out.flush()
    // the caller removes the work directory; skip Spark's shutdown
    Runtime.getRuntime.halt(0)
  }

  /** Layer metrics from the traced pass, falling back to the probe for
    * the layers the workload's own ops never reach; also the names of the
    * metrics that came from the probe.
    */
  def layerMetrics(t: Trace, probe: Trace): (Seq[(String, (Double, String))], Seq[String]) = {
    val probed = mutable.ArrayBuffer[String]()
    def counted(name: String, f: Seq[Double] => Double): Option[Double] =
      t.counts.get(name).filter(_.nonEmpty).orElse {
        probed += name
        probe.counts.get(name).filter(_.nonEmpty)
      }.map(xs => f(xs.toSeq))
    val p50 = (xs: Seq[Double]) => Stats.median(xs)
    val mean = (xs: Seq[Double]) => xs.sum / xs.size
    val last = (xs: Seq[Double]) => xs.last
    val specs: Seq[(String, String, Seq[Double] => Double)] = Seq(
      ("cli.overhead_ms", "ms", p50), ("cli.response_bytes", "bytes", mean),
      ("query.compile_ms", "ms", p50), ("sql.analyze_ms", "ms", p50),
      // the tracker reports whole milliseconds: a mean keeps the digits
      ("plan.analysis_ms", "ms", mean), ("plan.optimization_ms", "ms", mean),
      ("plan.planning_ms", "ms", mean),
      ("exec.codegen_compiles", "count", mean), ("exec.codegen_compile_ms", "ms", last),
      ("exec.alloc_mb", "MB", mean),
      ("scan.rows_read", "count", mean), ("scan.input_partitions", "count", mean),
      ("scan.rows_per_result_row", "ratio", p50),
      ("catalog.metafor_ms", "ms", p50), ("catalog.live_segments", "count", mean),
      ("catalog.log_entries", "count", mean),
      ("format.segment_open_ms", "ms", p50)) ++
      LayerBench.cases.map(c => (c._1, "MB/s", p50)) ++ Seq(
      ("write.encode_ms", "ms", p50), ("write.segments_per_append", "count", mean),
      ("compact.ms", "ms", p50), ("compact.bytes_rewritten", "bytes", mean),
      ("compact.segments_in", "count", mean), ("compact.segments_out", "count", mean),
      ("pipeline.bands_ms", "ms", p50), ("pipeline.candidates_ms", "ms", p50),
      ("pipeline.verify_ms", "ms", p50), ("pipeline.components_ms", "ms", p50),
      ("pipeline.candidate_pairs", "count", mean), ("pipeline.verified_pairs", "count", mean),
      ("pipeline.candidate_precision", "ratio", mean))
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    specs.foreach { case (k, unit, f) => out += k -> (counted(k, f).getOrElse(0.0), unit) }
    // the append and read halves of an ingest op, from their spans
    def spanP50(metric: String, span: String): Unit = {
      val own = t.durations(span)
      if (own.isEmpty) probed += metric
      out += metric -> (Stats.median(if (own.nonEmpty) own else probe.durations(span)), "ms")
    }
    spanP50("write.append_p50_ms", "write.append")
    spanP50("write.read_p50_ms", "sources.read")
    // self time per layer and op, from the probe where the pass has none
    def selfPerOp(tr: Trace): Map[String, Double] = {
      val ops = math.max(1, tr.counts.get("op.latency_ms").map(_.size).getOrElse(1))
      tr.selfMs.groupBy(_._1.takeWhile(_ != '.')).map { case (k, v) => k -> v.map(_._2).sum / ops }
    }
    val (own, fromProbe) = (selfPerOp(t), selfPerOp(probe))
    Seq("cli", "query", "sql", "plans", "sources", "catalog", "exec", "write",
      "compact", "pipeline").foreach { l =>
      if (!own.contains(l)) probed += s"self.${l}_ms"
      out += s"self.${l}_ms" -> (own.getOrElse(l, fromProbe.getOrElse(l, 0.0)), "ms")
    }
    (out.toSeq, probed.toSeq)
  }
}
