package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared keyed memo — ONE copy of the locking discipline that every
  * per-(session, dataset) memo needs: the iterative/model-producing
  * operators (pageRank, BFS, LPA, entityResolution, verifiedPairs),
  * the dedup shingle/fingerprint substrate, and the plain values
  * derived once per fixture (the hashed-sets admission decision, the
  * trained BPE merge table, a path's scan-unit count). Each entry is a
  * `(tag, session, dataset)` → value; without the key, every repeated
  * call in one session would pin a fresh cached copy and registry/bench
  * sweeps would grow storage memory without bound.
  *
  * Discipline (hoisted here so a fix lands once instead of per-module):
  *   - lock only around map access, never around the (multi-job)
  *     compute: a concurrent caller for a DIFFERENT key computes
  *     independently instead of queuing behind this one's Spark jobs;
  *   - two racing callers for the SAME key may each compute once; the
  *     loser's value is released so only the winner's copy stays
  *     pinned;
  *   - a compute that throws stores nothing: the exception reaches the
  *     caller and the next call computes afresh;
  *   - entries of stopped sessions are evicted on every access, so a
  *     JVM that cycles sessions (services, test harnesses) never pins
  *     a dead session's plans.
  *
  * Frame memos ([[KeyedMemo.frames]]) release an entry with
  * `unpersist()`, so their `compute` must return a PERSISTED frame
  * (and should have materialized it if callers depend on lineage
  * truncation) — the memo is the one place that bounds how many
  * survive. A RENAME-ONLY projection of a persisted frame qualifies: it
  * canonically resolves to the child's cache entry, so reads hit the
  * cache and `unpersist()` (clear(), race-loser cleanup) propagates
  * through the rename — CacheSemanticsSpec pins both properties. Any
  * other derivation (filter, join, agg) must cache + materialize its
  * own output and release inner frames. Value memos
  * ([[KeyedMemo.values]]) hold plain driver-side values and release
  * nothing.
  */
private[graft] object KeyedMemo {
  private val instances = scala.collection.mutable.ArrayBuffer[KeyedMemo[_]]()
  private def register(m: KeyedMemo[_]): Unit = synchronized { instances += m }

  def frames(): KeyedMemo[DataFrame] = new KeyedMemo[DataFrame](_.unpersist())
  def values[V](): KeyedMemo[V] = new KeyedMemo[V](_ => ())

  /** Drop (and release) every entry of every memo in the JVM — the
    * cross-fixture isolation hook Bench uses between the dirs of a
    * multi-scale sweep, so fixture N+1 never competes with fixture
    * N's pinned substrates for storage memory, and the reset specs
    * use to race the cold-miss paths deliberately. (Instances are
    * module-singletons; this buffer only ever holds a handful.)
    */
  def clearAll(): Unit = {
    val snapshot = synchronized { instances.toVector }
    snapshot.foreach(_.clear())
  }
}

private[graft] final class KeyedMemo[V](release: V => Unit) {
  // cache MUST initialize before this instance is published to the
  // global registry: a clearAll() racing a KeyedMemo mid-construction
  // would otherwise NPE in clear() on the not-yet-assigned field
  private val cache = scala.collection.mutable.Map[(String, SparkSession, String), V]()
  KeyedMemo.register(this)

  private def clear(): Unit = synchronized {
    cache.values.foreach(release)
    cache.clear()
  }

  def apply(tag: String, s: SparkSession, dir: String)(compute: => V): V = {
    val key = (tag, s, dir)
    val hit = synchronized {
      cache.filterInPlace { case ((_, sess, _), _) => !sess.sparkContext.isStopped }
      cache.get(key)
    }
    hit.getOrElse {
      val computed = compute
      synchronized {
        val winner = cache.getOrElseUpdate(key, computed)
        if (!(winner.asInstanceOf[AnyRef] eq computed.asInstanceOf[AnyRef])) release(computed)
        winner
      }
    }
  }
}
