package graft.sources.druid

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.format.DruidSegment

/** Per-segment planning metadata: everything a query needs to prune and
  * split without touching the segment itself.
  *
  * `zones` are per-numeric-column [min, max] value ranges (zone maps):
  * a pushed range/equality filter outside a segment's zone skips the
  * whole segment at planning — dimension-based segment skipping on top
  * of the `__time` interval pruning. Bounds are conservatively widened
  * one ulp at write time so long→double rounding can never prune a
  * segment that still holds matching rows. Absent (empty) for segments
  * indexed by the fallback open path — absence disables pruning, never
  * correctness.
  *
  * `strZones` are the string-dimension analog: per-column [min, max]
  * over non-null values, compared with `String.compareTo` on BOTH the
  * write and prune sides. The zone is a membership envelope, so
  * equality/IN values and prefixes outside it prove the segment holds
  * no matching row. Lexicographic range bounds prune with it only
  * where bound and envelope edge are pure ASCII: Spark orders strings
  * by UTF-8 bytes, not UTF-16, and the two orders agree only there.
  *
  * `nullCounts`, when present, maps EVERY column the segment stores to
  * its null-row count (0 included — key presence doubles as a
  * column-presence record, so a missing key under a present map means
  * the segment predates the column and every row is null). Powers
  * complete COUNT(col) pushdown and planning-time pruning of all-null
  * segments under IS NOT NULL. None (old manifests, fallback opens)
  * disables both, never correctness.
  */
final case class SegMeta(dir: String, startMs: Long, endMs: Long,
                         rows: Int, exactInterval: Boolean,
                         zones: Map[String, (Double, Double)] = Map.empty,
                         strZones: Map[String, (String, String)] = Map.empty,
                         nullCounts: Option[Map[String, Long]] = None,
                         exactLongZones: Map[String, (Long, Long)] = Map.empty,
                         exactDoubleZones: Map[String, (Double, Double)] = Map.empty,
                         longSums: Map[String, Long] = Map.empty,
                         timeSorted: Boolean = false,
                         /** segmentGranularity DECLARED at write time
                           * (None: unbucketed / foreign segment). SPJ
                           * alignment prefers this over interval
                           * inference so same-granularity tables always
                           * report the same partition transform. */
                         granularity: Option[String] = None)

/** Table-level planning metadata, in three layers that keep BOTH the
  * per-commit cost and the per-query cost small at 100 TB:
  *
  *  1. `_graft_manifest.json` — the base snapshot (all segments +
  *     cached union schema), rewritten only by whole-table operations
  *     (overwrite, retention, compaction) and by periodic log
  *     compaction. Written temp-file + ATOMIC_MOVE: readers see the
  *     old manifest or the new one, never a torn file.
  *  2. `_graft_log/&#42;.json` — an append-only commit log. Each append /
  *     REPLACE WHERE / streaming epoch writes ONE small delta file
  *     (its new segments + any removed names), also atomically, so a
  *     commit is O(new segments) regardless of table size — a
  *     streaming sink committing every few seconds never rewrites a
  *     10^5-segment snapshot. Deltas replay in filename order on read;
  *     once the log exceeds a small bound it folds into the base
  *     snapshot (replay is idempotent, so a reader racing a compaction
  *     at worst re-applies entries it already has).
  *  3. `_graft_meta.json` inside each segment dir — a sidecar written
  *     with the segment BEFORE its atomic move into the table, so a
  *     segment can never exist without its planning metadata. Sidecars
  *     make the fallback for a stale/torn/lost manifest a per-segment
  *     small-file read instead of a binary metadata open, and make
  *     hand-copied segment dirs self-describing.
  *
  * All three layers are strictly a CACHE of what is derivable from the
  * segments themselves: any dir resolvable by none of them falls back
  * to opening segment metadata in parallel. Correctness never depends
  * on a manifest read winning a race.
  */
object SegmentCatalog {
  val FileName = "_graft_manifest.json"
  val LogDirName = "_graft_log"
  val SidecarName = "_graft_meta.json"
  val PendingName = "_graft_pending.json"
  val TombstoneName = "_graft_tombstone"
  /** Log files tolerated before a commit folds them into the base. */
  private val CompactThreshold = 16
  private val mapper = new ObjectMapper()

  // ------------------------------------------- deferred physical deletion

  /** Grace period between a segment's LOGICAL deletion (tombstone) and
    * its physical removal. Replaced/retired segment dirs stay on disk —
    * invisible to every new listing, but still openable — for at least
    * this long, so a query that planned them before the swap finishes
    * against the generation it planned (Druid's handoff semantics:
    * historicals keep serving a replaced segment until drop). Size it
    * above the longest query you run; immediate deletion (grace 0) is
    * the old delete-on-swap behavior.
    */
  def trashGraceMs: Long =
    graft.Settings.TrashGraceMs.get

  /** Logically delete a segment dir: one atomic marker file inside it.
    * New listings exclude it from this point on; the dir itself (and
    * every open/mmap a reader already holds) stays valid until
    * [[purgeTombstoned]] reaps it after the grace period. Idempotent;
    * failure is swallowed ONLY if the marker already landed (a dir we
    * can neither mark nor have marked must not silently stay visible).
    */
  def tombstone(dir: Path): Unit = {
    val n = mapper.createObjectNode()
    n.put("ts", System.currentTimeMillis())
    try writeAtomic(dir.resolve(TombstoneName),
      mapper.writeValueAsString(n).getBytes(UTF_8))
    catch { case e: Exception => if (!isTombstoned(dir)) throw e }
  }

  def isTombstoned(dir: Path): Boolean =
    Files.isRegularFile(dir.resolve(TombstoneName))

  /** Logical-deletion timestamp of a tombstoned dir (public: the
    * sys.segments trash-hold view joins it against live leases).
    */
  def tombstonedAt(dir: Path): Option[Long] =
    readJson(dir.resolve(TombstoneName))
      .flatMap(n => Option(n.get("ts")).map(_.asLong()))

  /** Physically delete every tombstoned segment dir under `root` whose
    * grace period has expired AND that no live reader lease protects;
    * returns the count reaped. Runs at the start of each maintenance
    * operation (compaction, overwrite, retention), so trash never
    * needs its own scheduler. A marker whose timestamp is unreadable
    * counts as expired (it is garbage either way, and it was invisible
    * already) but stays lease-protected conservatively.
    *
    * Lease protection (ReadLease): a dir tombstoned at ts T is held
    * while some unexpired lease has `created <= T` — exactly the
    * reads that could have planned it while it was live. Grace 0 is
    * the operator's FORCE-KILL (coordinator `?kill=true`,
    * `CALL system.purge_trash(t, 0)`): it bypasses leases, like
    * Druid's kill task, and keeps the old delete-now behavior.
    * The grace comparison is overflow-safe: a huge caller-supplied
    * grace (e.g. Long.MaxValue as "never purge") must never wrap
    * negative and purge everything.
    */
  def purgeTombstoned(root: String, graceMs: Long = trashGraceMs): Int = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return 0
    val now = System.currentTimeMillis()
    ReadLease.sweepExpired(root, now)
    // protect tombstones at/after the oldest live lease's creation;
    // leases created AFTER a tombstone never planned it (listings
    // already excluded it), so they never block reclamation
    val leaseFloor =
      if (graceMs <= 0) Long.MaxValue // force-kill: leases ignored
      else ReadLease.minLiveCreated(root, now)
    val anyLive = leaseFloor != Long.MaxValue
    val doomed = {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { d =>
          Files.isDirectory(d) && isTombstoned(d) && {
            tombstonedAt(d) match {
              case Some(ts) => now - ts >= graceMs && ts < leaseFloor
              case None => !anyLive // unreadable marker: garbage, but
                                    // lease-conservative
            }
          }
        }.toSeq
      } finally s.close()
    }
    doomed.foreach { d =>
      try Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Exception => () } // racing purge: the other one wins
    }
    doomed.size
  }

  /** Planning metadata of TOMBSTONED (logically deleted, awaiting
    * purge) segment dirs under `root`, from their sidecars — the
    * observability feed for sys.segments' overshadowed rows (Druid's
    * term for exactly this state: replaced but still physically
    * present until kill). Dirs whose sidecar is unreadable (e.g. a
    * racing purge) are skipped: this is a VIEW, never a correctness
    * input.
    */
  def tombstonedMeta(root: String): Seq[SegMeta] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return Nil
    val s = Files.list(p)
    val dirs =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(d => Files.isDirectory(d) && isTombstoned(d))
          .map(_.toString).toSeq
      } finally s.close()
    dirs.sorted.flatMap(sidecar)
  }

  /** Raw listing of live (non-tombstoned) segment dirs under `root` —
    * the shared pre-pendingFilter listing every caller that stats the
    * table directly must use, or logically-deleted segments resurface.
    */
  def listLiveSegmentDirs(root: Path): Seq[Path] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(d => Files.isDirectory(d) &&
        graft.format.DruidSegment.isSegmentDir(d) && !isTombstoned(d)).toSeq
    } finally s.close()
  }

  // ---------------------------------------------------------------- io

  /** Write `bytes` to `target` via temp file + atomic rename: readers
    * see the old content or the new, never a torn write; a crash leaves
    * at worst an orphaned `.tmp` that later writes ignore.
    */
  private[druid] def writeAtomicFile(target: Path, bytes: Array[Byte]): Unit =
    writeAtomic(target, bytes)

  private def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent,
      "." + target.getFileName.toString + ".", ".tmp")
    try {
      Files.write(tmp, bytes)
      try Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: AtomicMoveNotSupportedException =>
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally { val _ = Files.deleteIfExists(tmp) }
  }

  private def readJson(p: Path): Option[JsonNode] =
    try {
      if (!Files.isRegularFile(p)) None
      else Option(mapper.readTree(new String(Files.readAllBytes(p), UTF_8)))
    } catch { case _: Exception => None }

  // ------------------------------------------- entry (de)serialization

  private def entryInto(n: ObjectNode, m: SegMeta): Unit = {
    n.put("start", m.startMs); n.put("end", m.endMs)
    n.put("rows", m.rows); n.put("exact", m.exactInterval)
    n.put("sorted", m.timeSorted)
    m.granularity.foreach(g => n.put("gran", g))
    if (m.zones.nonEmpty) {
      val z = n.putObject("zones")
      m.zones.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = z.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (m.strZones.nonEmpty) {
      val z = n.putObject("szones")
      m.strZones.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = z.putArray(c); a.add(lo); a.add(hi)
      }
    }
    m.nullCounts.foreach { nc =>
      val z = n.putObject("nulls")
      nc.toSeq.sortBy(_._1).foreach { case (c, cnt) => z.put(c, cnt) }
    }
    if (m.exactLongZones.nonEmpty) {
      val z = n.putObject("xzonesl")
      m.exactLongZones.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = z.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (m.exactDoubleZones.nonEmpty) {
      val z = n.putObject("xzonesd")
      m.exactDoubleZones.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = z.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (m.longSums.nonEmpty) {
      val z = n.putObject("lsums")
      m.longSums.toSeq.sortBy(_._1).foreach { case (c, s) => z.put(c, s) }
    }
  }

  private def entryFrom(dir: String, v: JsonNode): SegMeta = {
    val zones = Option(v.get("zones")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, (Double, Double)]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        val arr = z.get(c)
        if (arr.isArray && arr.size() == 2)
          zb += c -> (arr.get(0).asDouble(), arr.get(1).asDouble())
      }
      zb.result()
    }.getOrElse(Map.empty[String, (Double, Double)])
    val strZones = Option(v.get("szones")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, (String, String)]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        val arr = z.get(c)
        if (arr.isArray && arr.size() == 2 &&
            arr.get(0).isTextual && arr.get(1).isTextual)
          zb += c -> (arr.get(0).asText(), arr.get(1).asText())
      }
      zb.result()
    }.getOrElse(Map.empty[String, (String, String)])
    val nullCounts = Option(v.get("nulls")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, Long]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        zb += c -> z.get(c).asLong()
      }
      zb.result()
    }
    val xl = Option(v.get("xzonesl")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, (Long, Long)]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        val arr = z.get(c)
        if (arr.isArray && arr.size() == 2)
          zb += c -> (arr.get(0).asLong(), arr.get(1).asLong())
      }
      zb.result()
    }.getOrElse(Map.empty[String, (Long, Long)])
    val xd = Option(v.get("xzonesd")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, (Double, Double)]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        val arr = z.get(c)
        if (arr.isArray && arr.size() == 2)
          zb += c -> (arr.get(0).asDouble(), arr.get(1).asDouble())
      }
      zb.result()
    }.getOrElse(Map.empty[String, (Double, Double)])
    val lsums = Option(v.get("lsums")).filter(_.isObject).map { z =>
      val zb = Map.newBuilder[String, Long]
      val zit = z.fieldNames()
      while (zit.hasNext) {
        val c = zit.next()
        zb += c -> z.get(c).asLong()
      }
      zb.result()
    }.getOrElse(Map.empty[String, Long])
    SegMeta(dir,
      v.get("start").asLong(), v.get("end").asLong(),
      v.get("rows").asInt(),
      Option(v.get("exact")).exists(_.asBoolean(false)),
      zones, strZones, nullCounts, xl, xd, lsums,
      timeSorted = Option(v.get("sorted")).exists(_.asBoolean(false)),
      granularity = Option(v.get("gran")).filter(_.isTextual).map(_.asText()))
  }

  /** Parse a `{"<name>": {entry}, ...}` object into (name -> SegMeta)
    * with dirs resolved under `root`; entries that fail to parse are
    * dropped (their dirs fall back to sidecar/open resolution).
    */
  private def entriesFrom(segs: JsonNode, root: String,
                          into: scala.collection.mutable.LinkedHashMap[String, SegMeta]): Unit = {
    val it = segs.fieldNames()
    while (it.hasNext) {
      val name = it.next()
      try into(name) = entryFrom(Paths.get(root, name).toString, segs.get(name))
      catch { case _: Exception => () }
    }
  }

  // ------------------------------------------------------------ replay

  private def logFiles(root: String): Seq[Path] = {
    val d = Paths.get(root, LogDirName)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".json"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
    }
  }

  /** The logical manifest: base snapshot + the GIVEN log deltas
    * replayed in filename order. Unreadable/torn files are skipped —
    * their segments resolve via sidecars or metadata opens instead.
    */
  private def replayFiles(root: String, files: Seq[Path])
      : (scala.collection.mutable.LinkedHashMap[String, SegMeta], Option[String]) = {
    val entries = scala.collection.mutable.LinkedHashMap[String, SegMeta]()
    var schema: Option[String] = None
    readJson(Paths.get(root, FileName)).foreach { node =>
      Option(node.get("schema")).filter(_.isTextual)
        .foreach(s => schema = Some(s.asText()))
      Option(node.get("segments")).filter(_.isObject)
        .foreach(entriesFrom(_, root, entries))
    }
    files.foreach { f =>
      readJson(f).foreach { node =>
        Option(node.get("remove")).filter(_.isArray).foreach { r =>
          val it = r.iterator()
          while (it.hasNext) entries.remove(it.next().asText())
        }
        Option(node.get("add")).filter(_.isObject)
          .foreach(entriesFrom(_, root, entries))
        // textual = refreshed cache; explicit null = invalidation (the
        // committing writer could not compute the new union schema)
        Option(node.get("schema")).foreach(s =>
          schema = if (s.isTextual) Some(s.asText()) else None)
      }
    }
    (entries, schema)
  }

  private def replay(root: String)
      : (scala.collection.mutable.LinkedHashMap[String, SegMeta], Option[String]) =
    replayFiles(root, logFiles(root))

  /** Sidecar read: the segment's own planning metadata, written with it
    * at commit time.
    */
  private def sidecar(dir: String): Option[SegMeta] =
    readJson(Paths.get(dir, SidecarName)).flatMap { node =>
      try Some(entryFrom(dir, node)) catch { case _: Exception => None }
    }

  /** Resolve each dir via manifest+log, else its sidecar; None entries
    * need a metadata open.
    */
  private def resolve(root: String,
                      dirs: Seq[String]): Seq[(String, Option[SegMeta])] = {
    val (entries, _) = replay(root)
    dirs.map { d =>
      val name = Paths.get(d).getFileName.toString
      d -> entries.get(name).map(_.copy(dir = d)).orElse(sidecar(d))
    }
  }

  /** All of `segmentDirs` resolved from manifest/log/sidecars; None if
    * any dir has no cached metadata at all (callers open metadata).
    */
  def load(root: String, segmentDirs: Seq[String]): Option[Seq[SegMeta]] = {
    val r = resolve(root, segmentDirs)
    if (r.forall(_._2.isDefined)) Some(r.map(_._2.get)) else None
  }

  /** Table-level union read schema, only when the manifest+log cover
    * EXACTLY `segmentDirs` (a hand-copied segment could carry columns
    * the cached schema doesn't know about, and a schema cached for a
    * superset could report columns none of these segments hold —
    * sidecars identify rows but not the table schema, so they don't
    * count here).
    */
  def loadSchema(root: String,
                 segmentDirs: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val (entries, schema) = replay(root)
    val actual = segmentDirs.map(d => Paths.get(d).getFileName.toString).toSet
    if (entries.keySet != actual) return None
    schema.flatMap { s =>
      try org.apache.spark.sql.types.DataType.fromJson(s) match {
        case st: org.apache.spark.sql.types.StructType => Some(st)
        case _ => None
      } catch { case _: Exception => None }
    }
  }

  // ------------------------------------------------------------ writes

  /** Write the segment's sidecar into its directory (call BEFORE the
    * atomic move into the table, so segment and metadata land
    * together).
    */
  def writeSidecar(m: SegMeta): Unit = {
    val n = mapper.createObjectNode()
    entryInto(n, m)
    writeAtomic(Paths.get(m.dir, SidecarName),
      mapper.writeValueAsString(n).getBytes(UTF_8))
  }

  /** Write the base snapshot file atomically (no log changes). */
  private def writeSnapshot(root: String, entries: Seq[SegMeta],
                            schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val rootNode = mapper.createObjectNode()
    schema.foreach(st => rootNode.put("schema", st.json))
    val segsNode = rootNode.putObject("segments")
    entries.foreach { m =>
      val n = segsNode.putObject(Paths.get(m.dir).getFileName.toString)
      entryInto(n, m)
    }
    writeAtomic(Paths.get(root, FileName),
      mapper.writeValueAsString(rootNode).getBytes(UTF_8))
  }

  /** Full-snapshot write for exactly `entries`: the base manifest
    * replaces atomically and the log clears. For WHOLE-TABLE operations
    * (overwrite, retention, compaction) the snapshot IS the table, so
    * every pending delta is superseded by definition and clearing the
    * whole log is the correct semantics (a delta from a racing append
    * would resurrect segments the operation just replaced; the racer's
    * segments still resolve by sidecar if their dirs survive).
    * Incremental commits use [[appendDelta]]; pure cache folding uses
    * [[compactLog]], which deletes only what it provably replayed.
    */
  def write(root: String, entries: Seq[SegMeta],
            schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val superseded = logFiles(root)
    writeSnapshot(root, entries, schema)
    superseded.foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
  }

  /** O(new segments) commit: one small delta file (adds + removed
    * names + refreshed schema cache), written atomically into the log.
    * Folds the log into the base snapshot once it exceeds
    * [[CompactThreshold]] files, so replay stays a bounded number of
    * small reads no matter how many commits the table has seen.
    *
    * `invalidateSchema` writes an explicit null schema into the delta,
    * clearing any cached base schema on replay — for commits that
    * changed the column set but could NOT compute the new union (an
    * unreadable old segment): leaving the stale base schema in place
    * would serve readers a cached schema missing the new columns.
    */
  def appendDelta(root: String, adds: Seq[SegMeta],
                  removes: Seq[String] = Nil,
                  schema: Option[org.apache.spark.sql.types.StructType] = None,
                  invalidateSchema: Boolean = false): Unit = {
    val logDir = Paths.get(root, LogDirName)
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    if (invalidateSchema) node.putNull("schema")
    else schema.foreach(st => node.put("schema", st.json))
    if (removes.nonEmpty) {
      val r = node.putArray("remove")
      removes.foreach(r.add)
    }
    val addNode = node.putObject("add")
    adds.foreach { m =>
      val n = addNode.putObject(Paths.get(m.dir).getFileName.toString)
      entryInto(n, m)
    }
    val name = f"${System.currentTimeMillis()}%016d-" +
      java.util.UUID.randomUUID().toString.take(8) + ".json"
    writeAtomic(logDir.resolve(name),
      mapper.writeValueAsString(node).getBytes(UTF_8))
    if (logFiles(root).size > CompactThreshold) compactLog(root)
  }

  /** Fold base + log into a fresh base snapshot and delete EXACTLY the
    * delta files that were replayed into it — a delta landing after the
    * listing (a racing append) is never deleted unfolded, it survives
    * and replays on top of the new base. Replay is idempotent, so a
    * reader racing the compaction at worst re-applies entries it
    * already has.
    */
  def compactLog(root: String): Unit = {
    val files = logFiles(root)
    val (entries, schema) = replayFiles(root, files)
    val st = schema.flatMap { s =>
      try org.apache.spark.sql.types.DataType.fromJson(s) match {
        case t: org.apache.spark.sql.types.StructType => Some(t)
        case _ => None
      } catch { case _: Exception => None }
    }
    writeSnapshot(root, entries.values.toSeq.sortBy(_.dir), st)
    files.foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
  }

  /** Number of pending log delta files (test/observability hook). */
  def logSize(root: String): Int = logFiles(root).size

  /** Cheap content fingerprint of a table's CURRENT segment-dir set —
    * the staleness key RollupRouting registrations pin. Segments are
    * immutable and every write path mints fresh dir names, so any
    * ingest / compaction / REPLACE / retention drop changes the set;
    * one directory listing (through the pending-swap filter, so a
    * mid-swap reader fingerprints a consistent generation), zero
    * segment opens. An unreadable/vanished table fingerprints to a
    * sentinel that can never equal a live listing's digest.
    */
  def stateFingerprint(root: String): String = {
    val dirs =
      try DruidTableUtil.discoverSegments(root)
        .map(d => Paths.get(d).getFileName.toString)
      catch { case _: Exception => return "<unreadable>" }
    fingerprintOf(dirs)
  }

  /** The same digest over an EXPLICIT segment-dir-name list -- lets a
    * caller that already holds a consistent listing (e.g. a maintained
    * rollup that scanned exactly these dirs) fingerprint the state it
    * actually read, immune to an ingest racing between scan and
    * fingerprint. */
  def fingerprintOf(dirNames: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    dirNames.sorted.foreach(d => md.update((d + "\u0000").getBytes(UTF_8)))
    java.util.Base64.getEncoder.encodeToString(md.digest()).take(22)
  }

  // ------------------------------------------------- atomic multi-dir swap

  /** Declare an in-progress segment SWAP (compaction, overwrite,
    * REPLACE WHERE): `adds` land then `removes` delete, but directory
    * moves are only per-dir atomic, so a reader listing the table
    * mid-swap would see BOTH generations and double-count rows. The
    * marker — one atomically-written file — closes that window:
    * discovery filters its listing to the pre-state (until every
    * `adds` dir is present) or the post-state (all `adds` present ⇒
    * the `removes` are logically gone even while their dirs linger).
    * Deletes MUST start only after all adds have moved in — that
    * ordering is what makes the two states the only observable ones
    * in every crash/race interleaving.
    *
    * Like the manifest, the marker degrades safely: a leftover marker
    * from a crash keeps yielding one of the two consistent states, and
    * the next swap replaces it.
    */
  def writePending(root: String, adds: Seq[String],
                   removes: Seq[String]): Unit = {
    val node = mapper.createObjectNode()
    val a = node.putArray("add");    adds.foreach(a.add)
    val r = node.putArray("remove"); removes.foreach(r.add)
    writeAtomic(Paths.get(root, PendingName),
      mapper.writeValueAsString(node).getBytes(UTF_8))
  }

  /** Retire the swap marker once the deletes and manifest are done. */
  def clearPending(root: String): Unit = {
    val _ = try Files.deleteIfExists(Paths.get(root, PendingName))
            catch { case _: Exception => false }
  }

  /** Filter a raw directory listing through the pending-swap marker
    * (no-op when none exists). `listed` holds full dir paths; the
    * marker holds segment dir NAMES.
    */
  def pendingFilter(root: String, listed: Seq[String]): Seq[String] = {
    val p = Paths.get(root, PendingName)
    if (!Files.isRegularFile(p)) return listed
    readJson(p) match {
      case None => listed // torn/unreadable marker: treat as absent
      case Some(node) =>
        def names(field: String): Set[String] = {
          val n = node.get(field)
          if (n == null || !n.isArray) Set.empty
          else {
            val b = Set.newBuilder[String]
            val it = n.iterator()
            while (it.hasNext) b += it.next().asText()
            b.result()
          }
        }
        val adds = names("add")
        val removes = names("remove")
        val byName = listed.map(d => Paths.get(d).getFileName.toString -> d)
        val present = byName.map(_._1).toSet
        val visible =
          if (adds.subsetOf(present)) byName.collect {
            case (n, d) if !removes.contains(n) => d // post-state
          }
          else byName.collect {
            case (n, d) if !adds.contains(n) => d    // pre-state
          }
        // a leftover marker that would hide everything is garbage —
        // self-heal to the raw listing rather than report an empty
        // table. ONLY when the marker has adds: an all-remove marker
        // (whole-table delete / retention pass) legitimately empties
        // the table, and self-healing there would resurface the
        // logically-deleted old generation until its dirs are
        // physically gone — the exact race the marker closes.
        if (visible.isEmpty && adds.nonEmpty) listed else visible
    }
  }

  /** Planning metadata for every segment under `root`: manifest, log,
    * and sidecars first; binary metadata opens ONLY for dirs none of
    * those cover (and only those dirs — a single hand-copied segment
    * costs one open, not a full-table rescan).
    */
  def metaFor(root: String): Seq[SegMeta] = {
    val dirs = DruidTableUtil.discoverSegments(root)
    val r = resolve(root, dirs)
    if (r.forall(_._2.isDefined)) r.map(_._2.get)
    else {
      val opened = openAll(r.collect { case (d, None) => d })
        .map(m => m.dir -> m).toMap
      r.map { case (d, m) => m.getOrElse(opened(d)) }
    }
  }

  /** Open segment metadata in parallel (bounded by the slowest single
    * open, not the segment count).
    */
  def openAll(dirs: Seq[String]): Seq[SegMeta] = {
    import scala.collection.parallel.CollectionConverters._
    dirs.par.map { d =>
      val seg = DruidSegment.open(d)
      val m = seg.metadata
      SegMeta(d, m.intervalStartMs, m.intervalEndMs, seg.numRows,
        seg.metadataDrd.exists(_.exactInterval))
    }.seq
  }
}
