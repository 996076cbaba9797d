package graft.model

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Session-keyed memo for values with EAGER side effects (cache()
  * registration, localCheckpoint block pinning): one value per
  * (session, dir), built at most once. Declare one per shared frame and
  * read it as `memo(s, dir)(build)`.
  *
  * THE way to share a frame across queries: a frame that more than one
  * query reads is a memo whose build ends in its storage (`.cache()`,
  * or an eager `localCheckpoint` for a collapsed result), and callers
  * read the memo's frame. Re-deriving a plan-equal frame and calling
  * `.cache()` again to hit the cache manager's plan-matched entry is
  * not a sharing mechanism here: the build is invisible to
  * `buildCount` and the caching decision spreads to every call site.
  * A bare `.cache()` is for INTRA-query reuse only — a frame read by
  * two branches of one query's plan.
  *
  * `TrieMap.getOrElseUpdate` alone may evaluate the value thunk more
  * than once under concurrent first access — the LOSING build's
  * cached/checkpointed blocks would then sit in the block manager with
  * no owner for the rest of the session. Serializing the build under
  * this memo's own monitor closes that: at most one build per
  * (session, dir) ever runs. The lock is per memo, so a hit on one memo
  * never waits on another memo's build; builds happen once per session
  * and the steady-state hit is a lock-acquire around a map read.
  *
  * Also evicts entries of stopped sessions on every access — the memos
  * are JVM-global, and a driver cycling sessions (notebook, test
  * matrix) would otherwise pin one dead entry per (session, dir)
  * forever.
  *
  * `counted = false` keeps a memo's builds out of
  * `SessionMemo.buildCount` (the source-table reads of `Tables`, which
  * every query's first call in a session makes and which are not
  * shared family builds).
  */
final class SessionMemo[V] private[graft] (counted: Boolean) {
  def this() = this(true)

  private val cache = TrieMap.empty[(SparkSession, String), V]

  def apply(s: SparkSession, dir: String)(build: => V): V =
    synchronized {
      cache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      cache.getOrElseUpdate((s, dir), {
        if (counted) SessionMemo.buildCount.incrementAndGet()
        build
      })
    }
}

object SessionMemo {
  /** Count of memo BUILDS actually executed (reads don't count).
    * Bench samples the delta around each query to tell a FIRST-TOUCHER
    * sample (absorbs a shared family build) from a steady-state one:
    * publishing the min wall across the two would erase the build cost
    * from the per-query number AND from the family sum. */
  val buildCount = new java.util.concurrent.atomic.AtomicLong(0L)
}
