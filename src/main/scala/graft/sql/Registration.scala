package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Once-per-session guard for what graft adds to a session: its SQL
  * functions ([[GraftExtensions.install]]) and its optimizer rules
  * ([[optimizerRule]]).
  *
  * Every graft entry point installs on its session — they must be
  * self-contained, because any single query may run in a fresh
  * session. Installing is not free (it builds identifiers and
  * UDF wrappers for a couple of hundred functions), and at bench scale
  * a per-query repetition shows up as fixed overhead on sub-second
  * queries. This guard makes the second and later calls one map hit.
  *
  * Keyed by the session OBJECT in a WeakHashMap, not by identity
  * hash: identity hashes are not unique, so a GC'd session's stale
  * entry could collide with a new session and silently skip its
  * registration (undefined-function errors at query time). Weak keys
  * also mean entries die with the session instead of accumulating
  * for the life of the JVM.
  */
object Registration {
  private val done =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()
  // per-session mutex objects so `body` runs under a lock — two threads
  // registering the same key concurrently would otherwise both execute
  // it (safe only if body is idempotent, which we don't want to rely
  // on). Weak keys, same lifetime story as `done`.
  private val locks =
    new java.util.WeakHashMap[SparkSession, Object]()

  def once(spark: SparkSession, key: String)(body: => Unit): Unit =
    // the extension's check rule calls this on every analysis: a done
    // key costs one `done` lookup, with no per-session lock taken
    if (!isDone(spark, key)) {
      val lock = locks.synchronized {
        locks.computeIfAbsent(spark, _ => new Object)
      }
      // the per-session lock is held across the re-check AND the body
      // call, so exactly one thread registers; sessions don't block
      // each other (their locks are distinct), and `done` has its own
      // monitor so this never deadlocks against it
      lock.synchronized {
        if (!isDone(spark, key)) {
          body // marked done only on success, so a failed registration retries
          done.synchronized {
            done.computeIfAbsent(spark, _ => new java.util.HashSet[String]()).add(key)
          }
        }
      }
    }

  private def isDone(spark: SparkSession, key: String): Boolean =
    done.synchronized {
      val keys = done.get(spark)
      keys != null && keys.contains(key)
    }

  /** Append `rule` to the session's `experimental.extraOptimizations`
    * once — the batch that runs after scan pushdown, which no
    * extension hook reaches.
    */
  def optimizerRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    once(spark, s"optimizer/${rule.ruleName}") {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    }
}
