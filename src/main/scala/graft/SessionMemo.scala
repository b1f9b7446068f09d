package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped build-once memo — the backing of the [[Tables]] load
  * memo and of [[graft.operators.StagedOnce]], the staging ledger.
  *
  * Keyed on the owning `SparkSession` so memoized frames never leak
  * across sessions, and EVICTED when the session's SparkContext ends:
  * on first use per context a `SparkListener` is registered whose
  * `onApplicationEnd` drops every entry belonging to that context.
  * Without the eviction, a long-lived multi-session process (one JVM
  * serving many short-lived sessions) would strongly retain every
  * stopped session, its resolved relations, and any eagerly
  * `localCheckpoint`-ed blocks for the JVM lifetime.
  *
  * Known scope limit: AUTOMATIC eviction is per-CONTEXT. Sessions
  * cloned via `newSession()` share one SparkContext, so an abandoned
  * clone's entries live until that context stops (there is no
  * per-session end event to hook, and weak keys don't work here —
  * memoized DataFrames reference their session, which would pin the
  * key). A harness that retires a clone early calls
  * [[SessionMemo.evictSession]] explicitly — every memo instance drops
  * that session's entries while sibling sessions' survive; Verify and
  * Bench do so in teardown. Bounded either way: entries are
  * per-(session, dir) singletons, not per-call.
  *
  * Thread-safe: the map holds one cell per key, and the first caller
  * builds it under the cell's own lock, outside the map, so a build
  * runs exactly once per (session, key), a build may itself memoize
  * other keys (the map forbids updating itself from inside
  * `computeIfAbsent`), and a slow build blocks only callers of its own
  * key. A build that throws leaves no entry: the next call builds again.
  */
final class SessionMemo[K, V] {

  private val memo = new ConcurrentHashMap[(SparkSession, K), SessionMemo.Cell[V]]()

  SessionMemo.instances.add(this)

  def apply(s: SparkSession, key: K)(build: => V): V = {
    SessionMemo.registerEviction(s.sparkContext, this)
    val k = (s, key)
    val cell = memo.computeIfAbsent(k, _ => new SessionMemo.Cell[V])
    try cell.getOrBuild(build)
    catch { case e: Throwable => memo.remove(k, cell); throw e }
  }

  /** Snapshot of this session's built entries (other sessions' keys and
    * builds still running are invisible). Lets callers report on what
    * was staged without re-triggering builds. */
  private[graft] def entries(s: SparkSession): Map[K, V] = {
    val out = Map.newBuilder[K, V]
    memo.forEach { (k, c) => if (k._1 eq s) c.value.foreach(v => out += k._2 -> v) }
    out.result()
  }

  /** Drop every entry whose session runs on `sc`. Called by the
    * context-end listener; exposed for tests. */
  private[graft] def evict(sc: SparkContext): Unit = {
    val it = memo.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext eq sc) it.remove()
  }

  /** Drop exactly `s`'s entries (sibling sessions on the same context
    * untouched) — the explicit early-retire path for `newSession()`
    * clones, which the context-end listener cannot see. */
  private[graft] def evictSession(s: SparkSession): Unit = {
    val it = memo.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq s) it.remove()
  }

  private[graft] def size: Int = memo.size()
}

object SessionMemo {

  /** One key's value, built at most once by the first caller; other
    * callers of the same key wait on the cell, not on the map. */
  private final class Cell[V] {
    @volatile var value: Option[V] = None
    def getOrBuild(build: => V): V = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  // Weak registry of every live memo instance so evictSession can reach
  // all of them without each declaring itself; weak so short-lived test
  // instances don't pin.
  private val instances: java.util.Set[SessionMemo[_, _]] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SessionMemo[_, _], java.lang.Boolean]()))

  /** Retire a session early: drop its entries from EVERY memo. The
    * context-end listener handles whole-context teardown; this is for
    * `newSession()` clones abandoned mid-process (the documented scope
    * limit above). Verify/Bench call it before `spark.stop()`. */
  def evictSession(s: SparkSession): Unit = {
    val snap = instances.synchronized { // WeakHashMap-backed: snapshot under lock
      new java.util.ArrayList[SessionMemo[_, _]](instances)
    }
    snap.forEach(_.evictSession(s))
  }

  private val registered = new ConcurrentHashMap[(SparkContext, SessionMemo[_, _]), Unit]()

  private def registerEviction(sc: SparkContext, m: SessionMemo[_, _]): Unit =
    registered.computeIfAbsent((sc, m), _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          m.evict(sc)
          registered.remove((sc, m))
        }
      })
    })
}
