package graft

import org.apache.spark.sql.SparkSession

/** Release the engine's session-lifetime working state.
  *
  * Two stores hold it, both in the CacheManager's cached plans. The
  * session-shared artifacts ([[Artifacts]]: cluster labels, trained IVF
  * stats, the forecast table, the DAG runner's stage counts, every
  * inferred parquet schema) are shared by object identity for the life of
  * a session, and the registry caches every DataFrame it hands out.
  * Per-query code `cache()`s only intermediates one query or one build
  * reads more than once (the MinHash candidates, a bracket table). That
  * is correct for Verify/Bench runs, but a LONG-LIVED server session
  * cycling many corpora would accumulate both. This is the explicit
  * release hook: evict every cached plan and drop the session's artifact
  * values and their build and hit counts. The CacheManager holds a cached
  * plan until `clearCache`, whoever references it; only the values'
  * checkpoint blocks are left to the ContextCleaner. The next query
  * simply rebuilds what it needs.
  *
  * SCOPE CAVEAT: `catalog.clearCache()` clears the CacheManager, which
  * Spark shares across ALL sessions of the SparkContext — sibling
  * sessions' cached plans are evicted too (they rebuild on next use;
  * correctness is unaffected). The artifact drop IS per-session. A process
  * hosting concurrent tenant sessions should call this at tenant-idle
  * points, not mid-workload.
  */
object Caches {

  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Artifacts.drop(spark)
  }
}
