package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 verdict #4 (cache hygiene): d13/d14 must not lean on
  * Verify's between-query `clearCache` — a library caller who runs
  * `editDistancePairs` or the fuzzy-cluster query pays any cache the
  * operator leaks for the rest of their session. The fix is
  * return-and-release: `editDistancePairs` eagerly materializes the
  * pair set (localCheckpoint) and unpersists its internal sig cache
  * before returning, so callers hold only checkpoint blocks tied to
  * the returned frame's lifetime (ContextCleaner reclaims those on
  * GC; CacheManager entries never auto-release); d14 reuses the
  * checkpointed edges (no cache of its own) and releases the
  * propagation graph cache once convergence is asserted.
  */
class DedupCacheHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("d13/d14 leave no table cache behind after materialization") {
    spark.sparkContext.setLogLevel("WARN")
    spark.catalog.clearCache() // other specs share the session
    for (q <- Seq("d13_edit_distance", "d14_fuzzy_clusters")) {
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      assert(org.apache.spark.sql.graft.CacheBridge.cacheIsEmpty(spark),
        s"$q left a table cache entry behind")
    }
  }

  test("editDistancePairs releases its sig cache once the pair set materializes") {
    spark.catalog.clearCache()
    val pairs = Dedup.editDistancePairs(spark, dir)
    // the call materialized (eager localCheckpoint) and must have
    // already dropped the internal sig cache — the returned frame is
    // checkpoint-backed only
    assert(org.apache.spark.sql.graft.CacheBridge.cacheIsEmpty(spark),
      "sig cache still registered after editDistancePairs returned")
    assert(pairs.count() >= 0) // frame stays readable without the cache
    spark.catalog.clearCache()
  }
}
