package graft.tools

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** A session-scoped artifact cache: one `TrieMap[K, V]` per
  * SparkSession, filled on first use by the caller's derivation.
  * Every instance registers itself, so [[SessionCache.clearAll]]
  * drops every cache in one call and a new cache can't be left out
  * of teardown.
  *
  * Keys are the session OBJECT in a WeakHashMap, so a later session
  * can never collide with an earlier one (identityHashCode reuse).
  * Weak keying does NOT release DataFrame entries: a Dataset strongly
  * references its SparkSession, so a frame value keeps its own key
  * reachable (the same reason [[Checkpoints]]' deferred registry
  * holds RDDs, not frames). Such entries live until `clearAll`.
  *
  * Entries assume the files under a dataset dir are immutable and
  * that the artifact attach state is fixed: [[Artifacts.attach]] and
  * [[Artifacts.detach]] clear every cache, and a caller that rewrites
  * a dataset in place must call `clearAll` itself. */
final class SessionCache[K, V] private () {
  private val bySession = new java.util.WeakHashMap[SparkSession, TrieMap[K, V]]

  /** The cached value for `k` in session `s`, deriving it on a miss.
    * `TrieMap.getOrElseUpdate` semantics: concurrent first callers may
    * each run `derive`, and one result wins. */
  def apply(s: SparkSession, k: K)(derive: => V): V =
    bySession.synchronized(bySession.computeIfAbsent(s, _ => TrieMap.empty[K, V]))
      .getOrElseUpdate(k, derive)

  private def clear(): Unit = bySession.synchronized(bySession.clear())
}

object SessionCache {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_, _]]

  def apply[K, V](): SessionCache[K, V] = {
    val c = new SessionCache[K, V]
    registry.add(c)
    c
  }

  /** Drop every entry of every cache, for every session. */
  def clearAll(): Unit = registry.forEach(_.clear())
}
