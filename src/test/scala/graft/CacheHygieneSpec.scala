package graft

import graft.testutil.SparkTestBase
import graft.util.CacheBag

/** Cache hygiene (round-2 verdict #9): after a query's result is consumed
  * and the driver calls CacheBag.release() — exactly what Bench/Verify/
  * Profile do per query — the session CacheManager must be EMPTY. Operators
  * may persist subtrees, but every persist must either be unpersisted
  * before returning (materialize-then-release) or registered with
  * CacheBag; a cache relying on LRU eviction is a leak. The only
  * allow-listed exception: none — the /tmp `cachedTable` memoization is
  * on-disk, not in the CacheManager. */
class CacheHygieneSpec extends SparkTestBase {

  test("every SparkEntry query leaves the CacheManager empty after release") {
    CacheBag.release()
    spark.sharedState.cacheManager.clearCache()
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf0001).count()
      CacheBag.release()
      if (spark.sharedState.cacheManager.isEmpty) None else {
        spark.sharedState.cacheManager.clearCache()
        Some(name)
      }
    }
    assert(leaks.isEmpty, s"queries leaking persisted frames: $leaks")
  }
}
