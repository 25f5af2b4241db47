package graft

import graft.core.Caches
import graft.ops.Joins
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scoped cache lifecycle: operators register intra-operator caches via
  * Caches.cache; a harness scope unpersists them after the consuming
  * action, so repeated queries leave no lingering InMemoryRelation.
  */
class CachesSpec extends SparkSpec {

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  test("withScope unpersists operator-internal caches after the action") {
    cacheManager.clearCache() // isolate from other specs' leftovers
    import spark.implicits._
    val ev = Seq(
      ("s1", 10L), ("s1", 11L), ("s1", 12L),
      ("s2", 10L), ("s2", 11L), ("s3", 10L), ("s3", 11L))
      .toDF("session_id", "item_id")
    val out = Caches.withScope {
      // covisitationPairs caches the distinct projection internally
      val pairs = Joins.covisitationPairs(ev, "session_id", "item_id", minCount = 2L)
      val n = pairs.count()
      assert(n == 1L) // (10,11) co-occurs in 3 sessions; (10,12)/(11,12) once
      assert(!cacheManager.isEmpty, "scope should hold the operator's cache while active")
      n
    }
    assert(out == 1L)
    assert(cacheManager.isEmpty, "scope exit must unpersist every cache it created")
  }

  test("no active scope: library default, caller owns the lifecycle") {
    cacheManager.clearCache()
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val cached = Caches.cache(df.groupBy("k").count())
    cached.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(!cacheManager.isEmpty)
    cached.unpersist(blocking = true)
    assert(cacheManager.isEmpty)
  }

  test("already-cached plans are not adopted by an inner scope") {
    cacheManager.clearCache()
    import spark.implicits._
    val shared = Seq((1, 2L), (3, 4L)).toDF("a", "b").groupBy("a").agg(sum("b").as("s"))
    shared.cache().count() // pinned by the "harness", outside any scope
    Caches.withScope {
      // an operator re-caching the same plan must not steal ownership
      Caches.cache(Seq((1, 2L), (3, 4L)).toDF("a", "b").groupBy("a").agg(sum("b").as("s")))
        .count()
    }
    assert(
      shared.storageLevel != StorageLevel.NONE,
      "scope exit must leave the harness-owned cache entry alone")
    shared.unpersist(blocking = true)
  }

  test("semantically-equal caches are refcounted across concurrent scopes (q160 race)") {
    // Spark's CacheManager dedupes by plan equality, so two harness
    // threads caching the same subtree share ONE InMemoryRelation —
    // the first scope to exit used to unpersist it under the second
    // scope's running job ("Block rdd_N does not exist", q160 in a
    // Verify pool run). Now the last reference unpersists.
    cacheManager.clearCache()
    import spark.implicits._
    def mk = Seq((1, 2L), (3, 4L)).toDF("a", "b")
      .groupBy("a").agg(sum("b").as("s"))
    val aCached = new java.util.concurrent.CountDownLatch(1)
    val bGrabbed = new java.util.concurrent.CountDownLatch(1)
    val aExited = new java.util.concurrent.CountDownLatch(1)
    @volatile var stillCachedAfterA = false
    val tA = new Thread(() => Caches.withScope {
      Caches.cache(mk).count()
      aCached.countDown()
      bGrabbed.await()
    })
    val tB = new Thread(() => Caches.withScope {
      aCached.await()
      val f = Caches.cache(mk)
      bGrabbed.countDown()
      aExited.await()
      stillCachedAfterA = f.storageLevel != StorageLevel.NONE
      f.count()
    })
    tA.start(); tB.start()
    tA.join(30000); aExited.countDown(); tB.join(30000)
    assert(stillCachedAfterA,
      "A's scope exit must not unpersist the entry B still references")
    assert(cacheManager.isEmpty, "after BOTH scopes exit the entry is gone")
  }

  test("materialized: a waiter on a failed fill proceeds on the lazy entry and says so") {
    cacheManager.clearCache()
    // the fill's tasks block until the waiter is parked, then fail
    val failing = udf { (x: Int) =>
      CachesSpec.fillStarted.countDown()
      CachesSpec.releaseFill.await()
      if (x >= 0) throw new RuntimeException("injected fill failure")
      x
    }
    // a range, not a local Seq: the optimizer would run the UDF on the
    // driver while building the cache entry
    val df = spark.range(0L, 2L, 1L, 2).select(failing(col("id").cast("int")).as("y"))
    @volatile var ownerError: Throwable = null
    @volatile var waiterError: Throwable = null
    val owner = new Thread(() =>
      try Caches.withScope(Caches.materialized(df))
      catch { case t: Throwable => ownerError = t })
    val waiter = new Thread(() =>
      try Caches.withScope(Caches.materialized(df))
      catch { case t: Throwable => waiterError = t })
    val err = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try {
      owner.start()
      assert(CachesSpec.fillStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
      waiter.start()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(waiter.getState == Thread.State.WAITING, "the waiter never parked on the fill")
      CachesSpec.releaseFill.countDown()
      owner.join(60000); waiter.join(60000)
    } finally System.setErr(oldErr)
    assert(ownerError != null, "the owner's failed fill must surface to the owner")
    assert(waiterError == null, s"the waiter must proceed, got $waiterError")
    assert(err.toString.contains("[caches] fill failed, waiter proceeds on lazy entry"))
    assert(cacheManager.isEmpty, "both scopes released the entry")
  }

  test("scopes nest: inner caches drop at inner exit, outer survive") {
    cacheManager.clearCache()
    import spark.implicits._
    Caches.withScope {
      val outer = Caches.cache(Seq(1, 2, 3).toDS().toDF("x"))
      outer.count()
      Caches.withScope {
        val inner = Caches.cache(Seq(4, 5).toDS().toDF("y"))
        inner.count()
        assert(inner.storageLevel != StorageLevel.NONE)
      }
      assert(outer.storageLevel != StorageLevel.NONE, "inner exit must not drop outer caches")
    }
    assert(cacheManager.isEmpty)
  }
}

object CachesSpec {
  // reached from the fill's tasks through the object, not the closure:
  // task closures are serialized, and latches are not
  val fillStarted = new java.util.concurrent.CountDownLatch(1)
  val releaseFill = new java.util.concurrent.CountDownLatch(1)
}
