package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped lifecycle for intra-operator caches.
  *
  * Several operators materialize an intermediate that their own plan
  * references more than once (LSH bands, covis distinct projections,
  * prefix subtrees): without `.cache()` the subtree re-runs per
  * reference. But a bare `.cache()` pins executor memory until the
  * session dies — fine for one query, creeping pressure for a
  * long-lived service running thousands (LRU eviction masks it at the
  * cost of eviction churn).
  *
  * `Caches.cache(df)` behaves exactly like `df.cache()` when no scope
  * is active (library default: the caller owns the lifecycle, as with
  * `Dataset.cache` itself). Inside `Caches.withScope { ... }` every
  * cache CREATED by the block is unpersisted when the block exits —
  * after the consuming action, so harness loops (`Verify`, `Bench`)
  * leave no lingering `InMemoryRelation` per query.
  *
  * A plan that is ALREADY cached when `cache(df)` is called — by a
  * harness pin or a plain `.cache()` outside any scope — is NOT
  * adopted: whoever created that entry owns it. This lets a harness
  * pin genuinely shared tables (e.g. the sessionized events every
  * query reads) outside the per-query scopes and keep cross-query
  * reuse, while operator-local intermediates come and go with their
  * query.
  *
  * Scope-CREATED entries are REFERENCE-COUNTED across scopes:
  * Spark's CacheManager dedupes by semantic plan equality, so two
  * concurrent harness threads whose operators cache the same subtree
  * (q41/q155/q160 share IVF/PQ intermediates) share ONE
  * InMemoryRelation — before r16, the first scope to finish
  * unpersisted it and the sibling's running job died with
  * "Block rdd_N does not exist" (observed on q160 in a Verify pool
  * run). Now each scope that touches the entry holds a reference and
  * only the LAST release unpersists. The registry lookup is by
  * `canonicalized` plan equality — the same equivalence CacheManager
  * uses — under one lock, so release-to-zero and a sibling's re-grab
  * cannot interleave.
  *
  * Scopes nest (innermost wins) and are thread-confined: plan
  * construction happens on the calling thread, so a ThreadLocal stack
  * is sufficient for the scope stack itself.
  */
object Caches {

  private final class Entry(
      val df: DataFrame,
      val plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      val hash: Int) {
    var refs: Int = 0
    // set once [[materialized]]'s eager count has completed for this
    // entry — later materialized() calls on the same canonical plan
    // (cross-query scaffold reuse inside one harness scope) skip the
    // redundant count job
    @volatile var filled: Boolean = false
    // non-null while one thread runs the eager count (guarded by
    // Caches.synchronized); late materialized() arrivals await it
    // instead of either re-counting (ADVICE r16: duplicate eager jobs
    // under the Verify pool) or racing ahead unfilled (the broadcast
    // race materialized exists to prevent)
    var filling: java.util.concurrent.CountDownLatch = null
  }

  /** Scope-created live cache entries, bucketed by the canonicalized
    * plan's structural hash; guarded by `Caches.synchronized`. The
    * bucketing matters: a flat list's linear scan compares each
    * incoming plan against every live entry with FULL-TREE equality,
    * and the pre-pass scope holding all 314 constructions' entries at
    * once made that quadratic-ish in similar scaffold trees (+127 s on
    * the Verify pre-pass before bucketing). Tree hash and
    * canonicalization are computed ONCE per call, outside the lock.
    */
  private val registry =
    scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Entry]]

  final class Scope private[Caches] () {
    private[Caches] val owned = ArrayBuffer.empty[Entry]
  }

  private val active = new ThreadLocal[List[Scope]] {
    override def initialValue: List[Scope] = Nil
  }

  /** `df.cache()`, reference-counted with the innermost active scope.
    * Outside any scope: plain `df.cache()` semantics (caller owns it).
    */
  def cache(df: DataFrame): DataFrame = cacheWithEntry(df)._1

  /** [[cache]] plus the registry entry it resolved to (None outside a
    * scope or on a foreign pin) — so [[materialized]] reuses the one
    * canonicalization instead of recomputing it (ADVICE r16).
    */
  private def cacheWithEntry(df: DataFrame): (DataFrame, Option[Entry]) =
    active.get.headOption match {
      case None =>
        (if (df.storageLevel != StorageLevel.NONE) df else df.cache(), None)
      case Some(scope) =>
        // canonicalization + structural hash are O(plan size): do them
        // once, OUTSIDE the lock
        val canon = df.queryExecution.analyzed.canonicalized
        val h = canon.hashCode()
        Caches.synchronized {
          registry.get(h).flatMap(_.find(_.plan == canon)) match {
            case Some(e) =>
              // a sibling (or this) scope already caches this subtree —
              // hold a reference; Spark's planner resolves the caller's
              // own frame against the shared InMemoryRelation, so return
              // `df` (the entry's frame has different exprIds)
              e.refs += 1; scope.owned += e; (df, Some(e))
            case None =>
              if (df.storageLevel != StorageLevel.NONE) (df, None) // foreign pin
              else {
                val out = df.cache()
                val e = new Entry(out, canon, h)
                e.refs = 1
                registry.getOrElseUpdate(h, ArrayBuffer.empty) += e
                scope.owned += e
                (out, Some(e))
              }
          }
        }
    }

  /** Plan-construction-only mode (thread-local): inside `f`,
    * [[materialized]] degrades to a lazy [[cache]] so constructing a
    * query runs NO Spark jobs. The fingerprint pre-passes (FpAll,
    * Verify, Bench) construct all 314 queries purely to stamp plan
    * hashes — eager counts there would execute the scaffolds once per
    * construction and make the stamp depend on cache-fill state
    * (ADVICE r16). Execution paths never set this.
    */
  def constructionMode[A](f: => A): A = {
    val prev = constructionOnly.get
    constructionOnly.set(true)
    try f
    finally constructionOnly.set(prev)
  }

  private val constructionOnly = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** [[cache]] + eager materialization (a count over the cached frame
    * fills every partition before returning). Required whenever the
    * cached frame fans out into 2+ BROADCAST exchanges: broadcast
    * builds run on concurrent threads and race past a LAZY cache
    * entry, recomputing the subtree once per broadcast (the q227
    * rule). A support table consumed by a cumsum, a totals broadcast,
    * and a threshold broadcast is exactly that shape — materialize it
    * once, then every consumer reads the InMemoryRelation.
    *
    * Exactly ONE thread pays the count per live entry: the fill is
    * claimed under the registry lock; late arrivals await the claimer's
    * latch (returning unfilled would reintroduce the broadcast race).
    * A failed fill releases the latch with `filled` still false, so
    * waiters proceed on the lazy entry (the pre-fix behavior) and the
    * next call retries; each such waiter prints a `[caches]` line on
    * stderr, so the degraded path never passes silently. A waiter
    * interrupted in the wait keeps its interrupt flag and fails.
    */
  def materialized(df: DataFrame): DataFrame = {
    if (constructionOnly.get) return cache(df)
    val (out, entry) = cacheWithEntry(df)
    entry match {
      case None =>
        // outside any scope / foreign pin: caller owns the lifecycle,
        // no entry to coordinate on — count unconditionally
        out.count()
      case Some(e) =>
        val (latch, owner) = Caches.synchronized {
          if (e.filled) (null, false)
          else if (e.filling != null) (e.filling, false)
          else {
            val l = new java.util.concurrent.CountDownLatch(1)
            e.filling = l
            (l, true)
          }
        }
        if (owner) {
          try {
            out.count()
            e.filled = true
          } finally {
            Caches.synchronized { e.filling = null }
            latch.countDown()
          }
        } else if (latch != null) {
          try latch.await()
          catch {
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              throw new IllegalStateException("interrupted while waiting for a cache fill", ie)
          }
          if (!e.filled)
            System.err.println("[caches] fill failed, waiter proceeds on lazy entry")
        }
    }
    out
  }

  /** Run `f`; unpersist every cache created via [[cache]] inside it.
    * Non-blocking unpersist: block cleanup proceeds asynchronously.
    */
  def withScope[A](f: => A): A = {
    val s = new Scope
    active.set(s :: active.get)
    try f
    finally {
      active.set(active.get.tail)
      Caches.synchronized {
        s.owned.foreach { e =>
          e.refs -= 1
          if (e.refs == 0) {
            registry.get(e.hash).foreach { b =>
              b -= e
              if (b.isEmpty) registry.remove(e.hash)
            }
            e.df.unpersist(blocking = false)
          }
        }
      }
      s.owned.clear()
    }
  }
}
