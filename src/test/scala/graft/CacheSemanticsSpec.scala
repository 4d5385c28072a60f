package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the CacheManager semantics the [[KeyedMemo]] discipline is
  * built on: a RENAME-ONLY projection (`df.toDF(names…)`) canonically
  * resolves to its child's cache entry — reads hit the cache without
  * a second `cache()` call (which would be a warned no-op), and an
  * `unpersist()` issued through the projection propagates to the
  * child's entry and actually frees it. Several memo computes
  * (cluster labels, star labels, incremental labels) return exactly
  * this shape over an internally cached+materialized frame; if a
  * Spark upgrade ever changed the canonical-match rule, this spec
  * fails first and the memos would need explicit re-caching. The
  * value-memo cases pin the rest of the discipline on plain values: a
  * failed compute is never stored, a race loser is released, and
  * `KeyedMemo.clearAll()` empties value memos too.
  */
class CacheSemanticsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  test("a rename-only projection shares its child's cache entry") {
    val df = Seq((1, 2), (3, 4)).toDF("a", "b").cache()
    df.count()
    val renamed = df.toDF("x", "y")
    assert(cached(renamed),
      "rename-only projection did not resolve to the child's cache entry")
    df.unpersist()
    assert(!cached(df) && !cached(renamed))
  }

  test("unpersist through a rename-only projection frees the child's entry") {
    val df = Seq((5, 6)).toDF("a", "b").cache()
    df.count()
    val renamed = df.toDF("x", "y")
    renamed.unpersist()
    assert(!cached(df),
      "unpersist through the rename did not free the child's cache entry")
  }

  test("a non-rename projection (filter) does NOT share the cache entry") {
    // the boundary of the rule: settledStars' filter output needs its
    // own cache() + the inner frame's explicit unpersist — this test
    // documents why that site differs from the rename-only ones
    val df = Seq((1, 2), (3, 4)).toDF("a", "b").cache()
    df.count()
    val filtered = df.filter($"a" > 1)
    assert(!cached(filtered),
      "filtered projection unexpectedly matched the child's cache entry")
    df.unpersist()
  }

  test("a value memo stores nothing when its compute throws; the next call recomputes") {
    val memo = KeyedMemo.values[Int]()
    val calls = new AtomicInteger
    assertThrows[IllegalStateException] {
      memo("throws", spark, "d") { calls.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(memo("throws", spark, "d") { calls.incrementAndGet(); 7 } == 7)
    assert(memo("throws", spark, "d") { calls.incrementAndGet(); 8 } == 7,
      "the successful value must be served from the memo")
    assert(calls.get == 2)
  }

  test("racing callers of one key share the winner and release the loser's value") {
    val released = new ConcurrentLinkedQueue[AnyRef]()
    val memo = new KeyedMemo[AnyRef](v => { released.add(v); () })
    val bothComputing = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val racers = (1 to 2).map(_ => Future(memo("race", spark, "d") {
        bothComputing.countDown()
        assert(bothComputing.await(30, TimeUnit.SECONDS), "the other caller never computed")
        new Object
      }))
      val got = racers.map(Await.result(_, 60.seconds))
      assert(got(0) eq got(1), "both callers must get the winner's value")
      assert(released.size == 1, s"released ${released.size} values, expected the loser's")
      assert(!(released.peek eq got(0)), "the winner's value was released")
    } finally pool.shutdown()
  }

  test("clearAll drops value entries, so a counter-backed compute runs again") {
    val memo = KeyedMemo.values[Int]()
    val calls = new AtomicInteger
    def get(): Int = memo("counted", spark, "d")(calls.incrementAndGet())
    assert(get() == 1 && get() == 1)
    KeyedMemo.clearAll()
    assert(get() == 2)
  }
}
