package graft

import org.apache.spark.sql.SparkSession

/** Release the engine's session-lifetime working state.
  *
  * Two stores hold it. Per-query code `cache()`s intermediates it reads
  * more than once (the dedup pipeline's shingles and signatures), shared
  * through the CacheManager by plan identity. The session-shared
  * artifacts ([[Artifacts]]: cluster labels, trained IVF stats, the
  * forecast table, the DAG runner's stage counts, every inferred parquet
  * schema) are shared by object identity for the life of a session —
  * correct for Verify/Bench runs, but a LONG-LIVED server session cycling
  * many corpora would accumulate them. This is the explicit release hook:
  * evict cached plans and drop the session's artifact values and their
  * build and hit counts (the values' checkpoint and cache blocks become
  * unreferenced and the ContextCleaner reclaims them). The next query
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
