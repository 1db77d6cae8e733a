package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Session-scoped cache registry: per-(session, key) caches are made
  * here ([[memo]]) and get their entries evicted when the owning session's
  * SparkContext ends, so a long-lived JVM (a serving process cycling
  * sessions) never pins resolved relations or checkpoint blocks for
  * stopped sessions. Eviction is listener-driven (application end),
  * the mechanism Spark itself uses for state cleanup.
  */
object SessionCaches {
  private val maps =
    new java.util.concurrent.CopyOnWriteArrayList[ConcurrentHashMap[(SparkSession, String), _]]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** A (session, key)-keyed cache, evicted with its session. */
  final class Memo[V] private[SessionCaches] {
    private[SessionCaches] val map =
      new ConcurrentHashMap[(SparkSession, String), V]()

    /** The value for (s, key), built by `build` on first use; every
      * lookup hooks `s` for eviction first.
      */
    def apply(s: SparkSession, key: String)(build: => V): V = {
      ensureHook(s)
      map.computeIfAbsent((s, key), _ => build)
    }
  }

  def memo[V](): Memo[V] = {
    val m = new Memo[V]
    maps.add(m.map)
    m
  }

  /** Idempotently attach the eviction listener for `s`: first call per
    * session wins, the rest are a set-membership check.
    */
  private[graft] def ensureHook(s: SparkSession): Unit =
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictNow(s)
      })
    }

  /** Drop every cached entry owned by `s` — the listener's work,
    * callable directly (and from specs, where stopping the shared
    * test context is not an option).
    */
  private[graft] def evictNow(s: SparkSession): Unit = {
    maps.forEach { m => m.keySet.removeIf(_._1 eq s) }
    hooked.remove(s)
  }

  /** Test hook: number of cached entries held for `s` across all
    * registered caches.
    */
  private[graft] def liveEntriesFor(s: SparkSession): Int = {
    var n = 0
    maps.forEach { m =>
      m.keySet.forEach { k => if (k._1 eq s) n += 1 }
    }
    n
  }

  /** Test hook: the frames cached for `s` across all registered caches. */
  private[graft] def liveFramesFor(s: SparkSession): Seq[DataFrame] = {
    val out = Seq.newBuilder[DataFrame]
    maps.forEach { m =>
      m.forEach { (k, v) =>
        v match {
          case df: Dataset[_] if k._1 eq s => out += df.toDF()
          case _ => ()
        }
      }
    }
    out.result()
  }
}
