package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.druid.SegmentCatalog

/** The table manifest: planning without opening segments, with safe
  * fallback when the manifest is missing or stale.
  */
class SegmentCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  private def write(out: String, n: Int, parts: Int = 2): Unit = {
    import spark.implicits._
    (0 until n).map(i => (new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong))
      .toDF("__time", "n").repartition(parts)
      .write.format("druid").mode("overwrite").save(out)
  }

  test("commit writes a manifest covering exactly the committed segments") {
    val out = Files.createTempDirectory("graft-cat").toString + "/t"
    write(out, 1000)
    val manifest = Paths.get(out, SegmentCatalog.FileName)
    assert(Files.isRegularFile(manifest))
    val metas = SegmentCatalog.metaFor(out)
    assert(metas.size == 2)
    assert(metas.map(_.rows).sum == 1000)
    assert(metas.forall(_.exactInterval))
  }

  test("queries plan from the manifest with ZERO planner segment opens") {
    val out = Files.createTempDirectory("graft-cat0").toString + "/t"
    write(out, 2000)
    def opens(): Long = graft.format.DruidSegment.openCounts.asScala
      .collect { case (d, c) if d.startsWith(out) => c.toLong }.sum
    // sum of an EXPRESSION is not metadata-answerable: data must scan
    val df = spark.read.format("druid").load(out)
      .agg(sum(col("n") * 2).as("s"))
    val before = opens()
    assert(df.head.getLong(0) == (0 until 2000).map(_.toLong * 2).sum)
    val delta = opens() - before
    // only the 2 reader tasks open segments; planning reads the manifest
    assert(delta == 2, s"expected 2 reader-only opens, got $delta")
    // plain SUM(col) is answered entirely from the manifest: ZERO opens
    val before2 = opens()
    assert(spark.read.format("druid").load(out).groupBy().sum("n")
      .head.getLong(0) == (0 until 2000).map(_.toLong).sum)
    assert(opens() - before2 == 0,
      "metadata-answered sum must not open any segment")
  }

  test("append keeps the manifest complete across jobs") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cata").toString + "/t"
    write(out, 500, parts = 1)
    (0 until 300).map(i => (new java.sql.Timestamp(1800000000000L + i * 1000L), i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("append").save(out)
    val metas = SegmentCatalog.metaFor(out)
    assert(metas.size == 2 && metas.map(_.rows).sum == 800)
    assert(spark.read.format("druid").load(out).count() == 800)
  }

  test("a schema-invalidating delta clears the cached schema, not serves it stale") {
    val out = Files.createTempDirectory("graft-catinv").toString + "/t"
    write(out, 100, parts = 1)
    val dirs = druid.DruidTableUtil.discoverSegments(out)
    assert(SegmentCatalog.loadSchema(out, dirs).isDefined)
    // a commit that changed the column set but could not compute the
    // union schema must drop the cache — readers re-derive instead of
    // being served a schema missing the new columns
    SegmentCatalog.appendDelta(out, Nil, invalidateSchema = true)
    assert(SegmentCatalog.loadSchema(out, dirs).isEmpty,
      "stale cached schema survived an invalidating delta")
    // and the entries themselves are untouched
    assert(SegmentCatalog.metaFor(out).map(_.rows).sum == 100)
  }

  test("log folding preserves delta entries; later deltas replay on top") {
    val out = Files.createTempDirectory("graft-catfold").toString + "/t"
    write(out, 100, parts = 1)
    val metas = SegmentCatalog.metaFor(out)
    val dirX = metas.head.dir + "-x"
    val dirY = metas.head.dir + "-y"
    SegmentCatalog.appendDelta(out, Seq(metas.head.copy(dir = dirX)), Nil)
    SegmentCatalog.compactLog(out)
    assert(SegmentCatalog.logSize(out) == 0)
    // the folded delta's entry now lives in the base snapshot
    assert(SegmentCatalog.load(out, Seq(dirX)).isDefined,
      "folded delta entry lost from the base snapshot")
    // a delta written after the fold replays on top of the new base
    SegmentCatalog.appendDelta(out, Seq(metas.head.copy(dir = dirY)), Nil)
    assert(SegmentCatalog.logSize(out) == 1)
    assert(SegmentCatalog.load(out, Seq(dirX, dirY)).isDefined,
      "entries lost across fold + later delta")
  }

  test("hand-copied segment resolves via its sidecar; without one, metadata opens") {
    val out = Files.createTempDirectory("graft-cats").toString + "/t"
    write(out, 400, parts = 1)
    // hand-copy a segment dir the manifest does not know about — the
    // copy carries the segment's sidecar, so planning stays open-free
    val seg = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => graft.format.DruidSegment.isSegmentDir(p)).next()
    val copy = Paths.get(out, "segment-manual")
    Files.walk(seg).iterator().asScala.toSeq.foreach { p =>
      Files.copy(p, copy.resolve(seg.relativize(p).toString))
    }
    val dirs = graft.sources.druid.DruidTableUtil.discoverSegments(out)
    val viaSidecar = SegmentCatalog.load(out, dirs)
    assert(viaSidecar.isDefined && viaSidecar.get.map(_.rows).sum == 800)
    assert(spark.read.format("druid").load(out).count() == 800)
    // strip the copy's sidecar: now only a metadata open can describe it
    Files.delete(copy.resolve(SegmentCatalog.SidecarName))
    assert(SegmentCatalog.load(out, dirs).isEmpty)
    // reads stay correct via the (single-segment) open fallback
    assert(spark.read.format("druid").load(out).count() == 800)
  }

  test("append commits a delta file, not a snapshot rewrite") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-catd").toString + "/t"
    write(out, 400, parts = 4)
    val manifest = Paths.get(out, SegmentCatalog.FileName)
    val baseBytes = Files.readAllBytes(manifest).toSeq
    (0 until 100).map(i => (new java.sql.Timestamp(1900000000000L + i * 1000L), i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("append").save(out)
    // the base snapshot is untouched; the commit is one O(new) delta
    assert(Files.readAllBytes(manifest).toSeq == baseBytes,
      "append rewrote the base snapshot")
    assert(SegmentCatalog.logSize(out) == 1)
    val metas = SegmentCatalog.metaFor(out)
    assert(metas.size == 5 && metas.map(_.rows).sum == 500)
    assert(spark.read.format("druid").load(out).count() == 500)
  }

  test("the log folds into the base once it passes the threshold") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-catf").toString + "/t"
    write(out, 10, parts = 1)
    (0 until 20).foreach { j =>
      Seq((new java.sql.Timestamp(1900000000000L + j * 100000L), j.toLong))
        .toDF("__time", "n").coalesce(1)
        .write.format("druid").mode("append").save(out)
    }
    // 20 appends with a compaction bound of 16: folded at least once
    assert(SegmentCatalog.logSize(out) <= 16,
      s"log never compacted: ${SegmentCatalog.logSize(out)} files")
    val metas = SegmentCatalog.metaFor(out)
    assert(metas.size == 21 && metas.map(_.rows).sum == 30)
    // and the folded state still plans with ZERO segment opens
    def opens(): Long = graft.format.DruidSegment.openCounts.asScala
      .collect { case (d, c) if d.startsWith(out) => c.toLong }.sum
    val before = opens()
    assert(SegmentCatalog.metaFor(out).size == 21)
    assert(opens() - before == 0)
  }

  test("a torn base manifest costs zero opens: sidecars carry full metadata") {
    val out = Files.createTempDirectory("graft-catt").toString + "/t"
    write(out, 300, parts = 2)
    val manifest = Paths.get(out, SegmentCatalog.FileName)
    // simulate a crash mid-write of a NON-atomic writer: truncate the
    // snapshot halfway (the real writer moves a temp file atomically,
    // so this state can only come from external interference)
    val bytes = Files.readAllBytes(manifest)
    Files.write(manifest, bytes.take(bytes.length / 2))
    def opens(): Long = graft.format.DruidSegment.openCounts.asScala
      .collect { case (d, c) if d.startsWith(out) => c.toLong }.sum
    val before = opens()
    val metas = SegmentCatalog.metaFor(out)
    assert(metas.size == 2 && metas.map(_.rows).sum == 300)
    // sidecar entries carry zones/null-counts, so pruning and
    // metadata-aggregate answerability survive the torn snapshot too
    assert(metas.forall(_.nullCounts.isDefined))
    assert(opens() - before == 0,
      "torn manifest forced metadata opens despite sidecars")
    assert(spark.read.format("druid").load(out).count() == 300)
  }

  test("corrupt manifest is ignored, not fatal") {
    val out = Files.createTempDirectory("graft-catc").toString + "/t"
    write(out, 100, parts = 1)
    Files.write(Paths.get(out, SegmentCatalog.FileName),
      "not json at all".getBytes("UTF-8"))
    assert(spark.read.format("druid").load(out).count() == 100)
  }

  test("pending-swap marker resolves discovery to ONE generation, never a mix") {
    val out = Files.createTempDirectory("graft-catp").toString + "/t"
    write(out, 400, parts = 2) // two "old" segments
    val old = druid.DruidTableUtil.discoverSegments(out)
    val oldNames = old.map(d => Paths.get(d).getFileName.toString)
    // the post-swap segment is a real segment dir (copy of an old one)
    def copySeg(src: String, name: String): String = {
      val dst = Paths.get(out, name)
      val s = Paths.get(src)
      Files.walk(s).iterator().asScala.toSeq.foreach { p =>
        Files.copy(p, dst.resolve(s.relativize(p).toString))
      }
      dst.toString
    }
    // swap declared, adds NOT yet present: pre-state (old segments)
    SegmentCatalog.writePending(out, adds = Seq("segment-merged"),
      removes = oldNames)
    assert(druid.DruidTableUtil.discoverSegments(out).sorted == old.sorted)
    // mid-swap: merged dir moved in, old dirs still on disk — reads
    // resolve to the POST state (old hidden), never both generations
    val merged = copySeg(old.head, "segment-merged")
    assert(druid.DruidTableUtil.discoverSegments(out) == Seq(merged))
    assert(spark.read.format("druid").load(out).count() == 200)
    // post-swap: old dirs deleted, marker retired — plain listing
    old.foreach { d =>
      Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    SegmentCatalog.clearPending(out)
    assert(druid.DruidTableUtil.discoverSegments(out) == Seq(merged))
    // a leftover marker that would hide EVERYTHING self-heals to the
    // raw listing instead of reporting an empty table
    SegmentCatalog.writePending(out,
      adds = Seq("segment-merged"), removes = Seq("segment-merged"))
    assert(druid.DruidTableUtil.discoverSegments(out) == Seq(merged))
    SegmentCatalog.clearPending(out)
    // an ALL-REMOVE marker (whole-table delete / retention pass
    // mid-swap) legitimately empties the table: NO self-heal — the
    // logically-deleted generation must not resurface while its dirs
    // await physical deletion
    SegmentCatalog.writePending(out, adds = Seq.empty,
      removes = Seq("segment-merged"))
    assert(druid.DruidTableUtil.discoverSegments(out).isEmpty)
    SegmentCatalog.clearPending(out)
    assert(druid.DruidTableUtil.discoverSegments(out) == Seq(merged))
  }

  test("reader/appender/compactor race: every read sees a consistent table") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-catrace").toString + "/t"
    // batch 0: 200 base rows; appended batches carry 100 rows each —
    // the invariant is per-batch atomicity: a read may land before or
    // after any append/compaction, but a batch is always all-or-none
    // and never double-counted
    def batchDF(b: Int, rows: Int) =
      (0 until rows).map(i =>
        (new java.sql.Timestamp(1700000000000L + b * 1000000L + i * 1000L),
          b.toLong, 1L)).toDF("__time", "b", "one")
    batchDF(0, 200).coalesce(1).write.format("druid").mode("overwrite").save(out)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appendsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val goodReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val failedReads = new java.util.concurrent.atomic.AtomicInteger(0)

    val appender = new Thread(() => try {
      (1 to 5).foreach { b =>
        batchDF(b, 100).coalesce(1)
          .write.format("druid").mode("append").save(out)
        appendsDone.incrementAndGet()
        Thread.sleep(50)
      }
    } catch { case e: Throwable => errors.add(s"appender: $e") })

    val compactor = new Thread(() => try {
      while (!stop.get()) {
        // every segment is under 0.9*2000 rows, so each pass merges
        // the full current set — maximal swap pressure
        graft.write.Compaction.compactIncremental(
          spark, out, targetRowsPerSegment = 2000, minFillFraction = 0.9)
        Thread.sleep(20)
      }
    } catch { case e: Throwable => errors.add(s"compactor: $e") })

    val reader = new Thread(() => try {
      while (!stop.get()) {
        val before = appendsDone.get()
        try {
          val got = spark.read.format("druid").load(out)
            .groupBy("b").agg(org.apache.spark.sql.functions.sum("one").as("n"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val after = appendsDone.get()
          // batch 0 is always fully visible; appended batches are
          // all-or-none; batches appended before the read started
          // must be present, and nothing is ever double-counted
          if (got.getOrElse(0L, 0L) != 200L)
            errors.add(s"base batch torn: $got")
          got.foreach { case (b, n) =>
            if (b != 0L && n != 100L) errors.add(s"batch $b torn: $n rows")
          }
          (1 to before).foreach { b =>
            if (!got.contains(b.toLong) && after == before)
              errors.add(s"committed batch $b missing: $got")
          }
          goodReads.incrementAndGet()
        } catch {
          // a loud read failure would be acceptable (never silent wrong
          // data) — but with deferred deletion the replaced segment dirs
          // a read planned stay physically present for the grace period,
          // so aborts should no longer happen at all; counted and
          // asserted ~0 below
          case _: Exception => failedReads.incrementAndGet()
        }
      }
    } catch { case e: Throwable => errors.add(s"reader: $e") })

    reader.start(); compactor.start(); appender.start()
    appender.join(120000)
    Thread.sleep(300) // let the reader observe the final state
    stop.set(true)
    reader.join(120000); compactor.join(120000)
    assert(errors.isEmpty, s"inconsistent reads: ${errors.asScala.toSeq.take(5)}")
    // liveness is RATE-based over counted attempts, not an absolute
    // wall-clock floor (host-speed sensitive): at least one read must
    // complete, and with tombstone-deferred deletion the abort rate
    // must be ~0 — reads planned against generation N complete even
    // after N+1 commits, because N's dirs survive the swap
    val attempts = goodReads.get() + failedReads.get()
    assert(goodReads.get() >= 1, s"no read completed in $attempts attempts")
    assert(failedReads.get() * 10 <= attempts,
      s"${failedReads.get()}/$attempts reads aborted — deferred deletion " +
        "should keep planned segment dirs openable across swaps")
    // quiesced: everything merged, nothing lost
    val fin = spark.read.format("druid").load(out)
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == Map(0L -> 200L, 1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 100L, 5L -> 100L), s"final state wrong: $fin")
  }

  test("compaction tombstones replaced segments: planned reads survive the swap") {
    val out = Files.createTempDirectory("graft-trash").toString + "/t"
    write(out, 400, parts = 4)
    val oldDirs = druid.DruidTableUtil.discoverSegments(out)
    assert(oldDirs.size == 4)
    // "plan" a read against generation N: open a segment handle now
    val planned = graft.format.DruidSegment.open(oldDirs.head)
    // generation N+1 commits: all four merge into one
    val stats = graft.write.Compaction.compactIncremental(
      spark, out, targetRowsPerSegment = 1000)
    assert(stats.segmentsAfter == 1)
    // replaced dirs: logically gone (new listings exclude them) but
    // physically present and still openable — the handoff contract
    assert(druid.DruidTableUtil.discoverSegments(out).size == 1)
    oldDirs.foreach { d =>
      assert(Files.isDirectory(Paths.get(d)), s"$d deleted before grace")
      assert(SegmentCatalog.isTombstoned(Paths.get(d)), s"$d not tombstoned")
      // a read planned before the swap completes after it
      assert(graft.format.DruidSegment.open(d).numRows == 100)
    }
    assert(planned.numRows == 100)
    // the table reads correctly through the swap
    assert(spark.read.format("druid").load(out).count() == 400)
    // purge honors the grace period: a long grace reaps nothing ...
    assert(SegmentCatalog.purgeTombstoned(out, graceMs = 60 * 60 * 1000L) == 0)
    assert(oldDirs.forall(d => Files.isDirectory(Paths.get(d))))
    // ... grace 0 reaps exactly the four tombstoned dirs
    assert(SegmentCatalog.purgeTombstoned(out, graceMs = 0L) == 4)
    assert(oldDirs.forall(d => !Files.exists(Paths.get(d))))
    assert(spark.read.format("druid").load(out).count() == 400)
  }

  test("racing purges are safe; tombstones compose with the swap marker") {
    val out = Files.createTempDirectory("graft-trash3").toString + "/t"
    write(out, 300, parts = 3)
    val gen0 = druid.DruidTableUtil.discoverSegments(out)
    write(out, 90, parts = 1) // overwrite: gen0 tombstoned
    // two purges race on the same trash — deleteIfExists semantics:
    // no exception, dirs gone exactly once, counts sum to >= 3 (a dir
    // may be counted by both racers, but never left behind)
    val counts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to 2).map(_ => new Thread(() =>
      try counts.addAndGet(SegmentCatalog.purgeTombstoned(out, graceMs = 0L))
      catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(errs.isEmpty, s"racing purge threw: ${errs.asScala.headOption}")
    assert(counts.get() >= 3, s"purge count: ${counts.get()}")
    gen0.foreach(d => assert(!Files.exists(Paths.get(d)), s"$d survived"))
    assert(spark.read.format("druid").load(out).count() == 90)
    // tombstones compose with a pending-swap marker: a marker whose
    // removes are ALREADY tombstoned dirs must not resurface them in
    // either marker state
    val gen1 = druid.DruidTableUtil.discoverSegments(out)
    write(out, 40, parts = 1) // gen1 tombstoned, gen2 live
    val gen2 = druid.DruidTableUtil.discoverSegments(out)
    val gen1Names = gen1.map(d => Paths.get(d).getFileName.toString)
    SegmentCatalog.writePending(out,
      adds = gen2.map(d => Paths.get(d).getFileName.toString),
      removes = gen1Names)
    assert(druid.DruidTableUtil.discoverSegments(out).sorted == gen2.sorted)
    SegmentCatalog.clearPending(out)
    assert(druid.DruidTableUtil.discoverSegments(out).sorted == gen2.sorted)
  }

  test("overwrite and retention defer deletion the same way") {
    val out = Files.createTempDirectory("graft-trash2").toString + "/t"
    write(out, 100, parts = 1)
    val gen0 = druid.DruidTableUtil.discoverSegments(out)
    write(out, 60, parts = 1) // overwrite
    assert(spark.read.format("druid").load(out).count() == 60)
    gen0.foreach(d => assert(Files.isDirectory(Paths.get(d)) &&
      SegmentCatalog.isTombstoned(Paths.get(d)),
      s"overwritten $d should be tombstoned, not deleted"))
    // retention: drop everything before a far-future cutoff
    val gen1 = druid.DruidTableUtil.discoverSegments(out)
    val st = graft.write.Retention.dropOlderThan(out, Long.MaxValue)
    assert(st.segmentsDropped == 1 && st.rowsDropped == 60)
    gen1.foreach(d => assert(Files.isDirectory(Paths.get(d)) &&
      SegmentCatalog.isTombstoned(Paths.get(d)),
      s"retired $d should be tombstoned, not deleted"))
    // tombstoned dirs never resurface through a later append's manifest
    // rebuild (the resurrection path: raw listing -> openAll -> write)
    import spark.implicits._
    Seq((new java.sql.Timestamp(1700000000000L), 7L)).toDF("__time", "n")
      .coalesce(1).write.format("druid").mode("append").save(out)
    assert(spark.read.format("druid").load(out)
      .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) == 7L)
    assert(SegmentCatalog.purgeTombstoned(out, graceMs = 0L) == 2)
  }

  test("a pushed aggregate answers from the one listing its checks read") {
    val out = Files.createTempDirectory("graft-cats").toString + "/t"
    write(out, 300)
    val other = Files.createTempDirectory("graft-cats2").toString + "/t"
    write(other, 100, parts = 1)
    // COUNT(n) is pushed because every segment carries null counts
    val df = spark.read.format("druid").load(out).agg(count(col("n")))
    assert(df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description
    }.exists(_.contains("pushedAggs=count:n")))
    // then a segment without graft's sidecar lands before the scan
    // plans its partitions: the scan must answer from the listing the
    // checks read, not a later one without null counts for it
    val src = Paths.get(druid.DruidTableUtil.discoverSegments(other).head)
    val dst = Paths.get(out, "segment-foreign")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      Files.copy(p, dst.resolve(src.relativize(p).toString))
    }
    Files.delete(dst.resolve("_graft_meta.json"))
    assert(SegmentCatalog.metaFor(out).exists(_.nullCounts.isEmpty))
    assert(df.collect().head.getLong(0) == 300L)
    // the next query lists the new segment and reads its rows
    assert(spark.read.format("druid").load(out).agg(count(col("n")))
      .head.getLong(0) == 400L)
  }
}
