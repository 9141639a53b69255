package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Bounded registry for the pipeline's cached MATERIALIZATION BARRIERS
  * (the LSH band tables, m6's frame table, d13's survivor checkpoint):
  * each is a load-bearing `.cache()` — without it Catalyst's projection
  * collapse re-inlines the subtree into every downstream reference
  * (m6's measured 46 s pathology) — but a bare `.cache()` is never
  * released, and a long-lived broker session accumulates cached
  * subtrees until LRU memory pressure evicts them blind.
  *
  * `barrier(df)` caches and registers; once more than [[bound]]
  * DISTINCT barrier plans are live, the least-recently-registered is
  * unpersisted. Why eviction-on-next-registration instead of
  * unpersist-on-gate-exit: gates RETURN lazy DataFrames — the cache
  * must outlive the gate function and die only after the caller
  * materialized the result, a point only the next gate's registration
  * (or session teardown) can observe without forcing eager collects
  * into every gate (which would swap the oracle-gated plans for
  * LocalRelations). The bound keeps a session's barrier footprint
  * O(1) while the CURRENT query's barriers (at most 2-3 per gate)
  * always survive its own execution.
  *
  * Re-registering the SAME logical plan (a bench pass re-invoking a
  * gate) refreshes the entry's position instead of appending a
  * duplicate — evicting a stale duplicate would unpersist the live
  * cache out from under the newer registration (CacheManager keys by
  * canonicalized plan, not by DataFrame identity).
  */
object BarrierCache {

  /** Max distinct barrier plans kept cached (>= the largest number of
    * simultaneous barriers any single gate registers, with room for a
    * few warm gates).
    */
  def bound: Int =
    graft.Settings.BarrierCacheBound.get

  private val entries =
    new java.util.LinkedHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]()

  /** Cache `df` and register it as a barrier; evict (unpersist) the
    * oldest barriers beyond [[bound]]. Returns `df` for chaining.
    */
  def barrier(df: DataFrame): DataFrame = synchronized {
    val key = df.queryExecution.analyzed.canonicalized
    entries.remove(key) // refresh position on re-registration
    df.cache()
    entries.put(key, df)
    val it = entries.entrySet().iterator()
    while (entries.size() > bound && it.hasNext) {
      val old = it.next()
      it.remove()
      try { old.getValue.unpersist(blocking = false); () }
      catch { case _: Exception => () }
    }
    df
  }

  /** Unpersist every registered barrier (session teardown / specs). */
  def releaseAll(): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      try { e.getValue.unpersist(blocking = false); () }
      catch { case _: Exception => () }
    }
  }

  /** Registered barrier count (observability + specs). */
  def liveCount: Int = synchronized(entries.size())

  private val CheckpointBound = 16

  private val ckpts =
    new java.util.ArrayDeque[org.apache.spark.rdd.RDD[_]]()

  /** `df.localCheckpoint()` with EAGER reclamation: the checkpoint's
    * backing RDD is registered so its MEMORY_AND_DISK blocks are
    * unpersisted deterministically — either when more than
    * 16 checkpoints are live (oldest first; a bench
    * pass re-invoking a gate builds a fresh checkpoint each time, so
    * the previous pass's blocks are garbage the moment the new one
    * lands) or at [[releaseCheckpoints]]. Without this, reclamation
    * waits on driver GC + ContextCleaner and stale checkpoint blocks
    * compete with live caches for storage memory in long sessions.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => synchronized {
        ckpts.addLast(lr.rdd)
        while (ckpts.size() > CheckpointBound) {
          try { ckpts.pollFirst().unpersist(false); () }
          catch { case _: Exception => () }
        }
      }
      case _ => () // not a LogicalRDD: nothing to track
    }
    out
  }

  /** Unpersist every registered checkpoint RDD (bench pass boundary /
    * session teardown / specs).
    */
  def releaseCheckpoints(): Unit = synchronized {
    while (!ckpts.isEmpty) {
      try { ckpts.pollFirst().unpersist(false); () }
      catch { case _: Exception => () }
    }
  }
}
