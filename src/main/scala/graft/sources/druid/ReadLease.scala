package graft.sources.druid

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Reader leases: the reader-aware half of deferred segment deletion.
  *
  * Tombstoning (SegmentCatalog) makes replaced segments invisible to
  * new listings while keeping their dirs openable, and
  * `purgeTombstoned` reaps them after a wall-clock grace period. A
  * static grace alone leaves one hole: a query that runs LONGER than
  * the grace can still lose the generation it planned mid-read (at
  * 100 TB, multi-hour scans are the norm and no global ceiling fits
  * them all). Leases close it:
  *
  *  - planning a scan writes one small lease file
  *    (`_graft_leases/<id>.json`: id, created, expires) BEFORE listing
  *    the table — so any segment tombstoned at or after `created` was
  *    either planned by this scan or invisible to it;
  *  - `purgeTombstoned` (grace > 0) skips a tombstoned dir while any
  *    UNEXPIRED lease is at least as old as its tombstone — exactly
  *    the leases that could have planned it. Leases created after the
  *    tombstone never saw the dir and never block it, so a busy table
  *    still reclaims trash;
  *  - partition readers renew their scan's lease as they read
  *    (rewrite `expires`, `created` unchanged), so a read of any
  *    length stays protected while it makes progress — Druid's
  *    historicals-serve-until-handoff contract without a coordinator;
  *  - leases EXPIRE (ttl, renewed while reading), so a crashed reader
  *    can never pin trash forever; expired lease files are swept by
  *    the next purge or acquire.
  *
  * Grace 0 is the operator's force-kill (coordinator DELETE
  * `?kill=true`, `CALL system.purge_trash(t, 0)`): it ignores leases,
  * like Druid's kill task, and remains the old delete-now behavior.
  *
  * Leases are an AVAILABILITY optimization, never a correctness
  * input: acquisition/renewal failures (e.g. a read-only mount) are
  * swallowed and leave exactly the r13 wall-clock-grace behavior.
  */
object ReadLease {
  val DirName = "_graft_leases"

  /** Lease lifetime between renewals. Needs to cover plan-to-first-read
    * latency plus one renewal interval (readers renew at half-ttl);
    * NOT the whole query — renewal extends it while the read runs.
    */
  def ttlMs: Long =
    graft.Settings.LeaseTtlMs.get

  /** Serializable handle shipped to partition readers for renewal.
    * `created` is the protection anchor and never changes on renewal.
    */
  final case class Token(root: String, id: String, created: Long)

  private val mapper = new ObjectMapper()

  private def leaseDir(root: String): Path = Paths.get(root, DirName)

  private def write(root: String, id: String, created: Long,
                    expires: Long): Unit = {
    val n = mapper.createObjectNode()
    n.put("id", id)
    n.put("created", created)
    n.put("expires", expires)
    SegmentCatalog.writeAtomicFile(leaseDir(root).resolve(s"$id.json"),
      mapper.writeValueAsString(n).getBytes(UTF_8))
  }

  /** Acquire a lease on `root`'s current generation. MUST be called
    * BEFORE the caller lists the table (that ordering is the
    * correctness anchor: a dir tombstoned after `created` is protected,
    * a dir tombstoned before it was never listed). Returns None — and
    * leaves plain wall-clock-grace semantics — when the lease can't be
    * written (read-only mount, single-segment path, races); a lease is
    * availability, never correctness.
    */
  def acquire(root: String): Option[Token] =
    try {
      val p = Paths.get(root)
      if (!Files.isDirectory(p) ||
          graft.format.DruidSegment.isSegmentDir(p)) return None
      val d = leaseDir(root)
      Files.createDirectories(d)
      val now = System.currentTimeMillis()
      // opportunistic hygiene: keep the dir small on busy tables
      // (purge also sweeps; this just bounds the common case)
      if (countFiles(d) > 32) sweepExpired(root, now)
      val id = java.util.UUID.randomUUID().toString.take(13)
      write(root, id, now, now + ttlMs)
      Some(Token(root, id, now))
    } catch { case _: Exception => None }

  /** Extend a lease's expiry (created unchanged — it anchors which
    * tombstones the lease protects). Concurrent renewals from many
    * tasks of one scan all write the same created; last writer wins.
    */
  def renew(t: Token): Unit =
    try write(t.root, t.id, t.created, System.currentTimeMillis() + ttlMs)
    catch { case _: Exception => () }

  /** One live lease row (observability + purge protection). */
  final case class Info(id: String, created: Long, expires: Long)

  /** Unexpired leases under `root` (unreadable files skipped). */
  def live(root: String, now: Long): Seq[Info] = {
    val d = leaseDir(root)
    if (!Files.isDirectory(d)) return Nil
    val files = listJson(d)
    files.flatMap { f =>
      try {
        val n = mapper.readTree(new String(Files.readAllBytes(f), UTF_8))
        val info = Info(n.path("id").asText(""),
          n.path("created").asLong(Long.MinValue),
          n.path("expires").asLong(Long.MinValue))
        if (info.expires > now) Some(info) else None
      } catch { case _: Exception => None }
    }
  }

  /** Earliest `created` among live leases; Long.MaxValue when none —
    * purge protects tombstones with ts >= this floor.
    */
  def minLiveCreated(root: String, now: Long): Long = {
    val l = live(root, now)
    if (l.isEmpty) Long.MaxValue else l.map(_.created).min
  }

  /** Delete expired lease files; returns the count removed. */
  def sweepExpired(root: String, now: Long): Int = {
    val d = leaseDir(root)
    if (!Files.isDirectory(d)) return 0
    var n = 0
    listJson(d).foreach { f =>
      val expired =
        try {
          val node = mapper.readTree(new String(Files.readAllBytes(f), UTF_8))
          node.path("expires").asLong(Long.MinValue) <= now
        } catch { case _: Exception => true } // torn/garbage: reap
      if (expired && (try Files.deleteIfExists(f)
                      catch { case _: Exception => false })) n += 1
    }
    n
  }

  /** Executor-side renewal driver: one per partition reader, renews at
    * half-ttl cadence off a cheap clock check per batch.
    */
  final class Renewer(t: Token) {
    private var last = System.currentTimeMillis()
    private val half = math.max(1L, ttlMs / 2)
    def maybeRenew(): Unit = {
      val now = System.currentTimeMillis()
      if (now - last >= half) { last = now; renew(t) }
    }
  }

  private def listJson(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".json")).toSeq
    } finally s.close()
  }

  private def countFiles(d: Path): Int = {
    val s = Files.list(d)
    try s.count().toInt finally s.close()
  }
}
