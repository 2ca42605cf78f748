package graft.engine

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, key) memo for materialized-view spines (shingles,
  * LSH pairs, cluster labels, ancestor closures, resolved relations).
  *
  * Keyed by a per-session UUID held in an identity-weak side table — a
  * true unique id, unlike `System.identityHashCode`, which can collide
  * between two sessions and hand one session a plan bound to another
  * (possibly stopped) one. Entries whose owning context has stopped
  * are swept on every access, so cached/persisted/localCheckpoint'd
  * plans can't outlive their session for the JVM lifetime (ADVICE r3).
  */
private[graft] final class SessionMemo[K] {
  SessionMemo.register(this)
  private val m = TrieMap.empty[(String, K), (SparkSession, DataFrame)]

  def getOrElseUpdate(s: SparkSession, k: K)(build: => DataFrame): DataFrame = {
    m.filterInPlace { case (_, (owner, _)) => !owner.sparkContext.isStopped }
    m.getOrElseUpdate((SessionMemo.idOf(s), k), (s, build))._2
  }

  /** Drop (and unpersist) every entry owned by `s`. The next access
    * rebuilds — correctness is unaffected (memo entries are pure
    * derivations of the source tables); only residency changes. */
  def release(s: SparkSession): Unit = {
    val id = SessionMemo.idOf(s)
    m.keys.filter(_._1 == id).foreach { key =>
      m.remove(key).foreach { case (_, df) =>
        try df.unpersist(blocking = false) catch { case NonFatal(_) => () }
      }
    }
  }
}

private[graft] object SessionMemo {
  // Registry of every memo instance in the JVM (they are all
  // module-level vals, so the set is small and fixed). Lets a bench or
  // long-lived service bound resident cache: releaseAll between query
  // families instead of letting 100+ queries' spines accumulate.
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()
  private def register(memo: SessionMemo[_]): Unit = registry.add(memo)

  /** Release every memoized spine owned by `s`, across all memos, and
    * drop anything else the session pinned in the block manager
    * (cached plans from `.cache()`/`.persist()` inside operators).
    * localCheckpoint blocks are freed asynchronously by Spark's
    * ContextCleaner once the dropped references are GC'd. */
  def releaseAll(s: SparkSession): Unit = {
    registry.forEach(_.release(s))
    try s.sharedState.cacheManager.clearCache() catch { case NonFatal(_) => () }
  }

  // WeakHashMap: identity-keyed, and the String value holds no
  // reference back to the session, so an unreferenced session's entry
  // is collectable (a cache keyed directly on the session object would
  // pin it — the memoized DataFrames reference their session).
  private val ids = new java.util.WeakHashMap[SparkSession, String]()
  private def idOf(s: SparkSession): String = ids.synchronized {
    var v = ids.get(s)
    if (v == null) { v = java.util.UUID.randomUUID().toString; ids.put(s, v) }
    v
  }
}
