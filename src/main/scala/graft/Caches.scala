package graft

import org.apache.spark.sql.SparkSession

/** Release the engine's session-lifetime working state.
  *
  * The query library deliberately `cache()`s shared intermediates (the
  * dedup pipeline's shingles/signatures/pair set) and memoizes
  * checkpoint-rooted artifacts (cluster labels, trained IVF stats, the
  * forecast table, the DAG runner's stage counts, every inferred parquet
  * schema — [[Tables.parquetSchema]]) for the life of a session — correct
  * for Verify/Bench runs, but a LONG-LIVED server session cycling many
  * corpora would accumulate them. This is the
  * explicit release hook: evict cached plans and drop the session from
  * every [[graft.operators.SessionMemo]] (their checkpoint and cache
  * blocks become unreferenced and the ContextCleaner reclaims them). The
  * next query simply rebuilds what it needs.
  *
  * SCOPE CAVEAT: `catalog.clearCache()` clears the CacheManager, which
  * Spark shares across ALL sessions of the SparkContext — sibling
  * sessions' cached plans are evicted too (they rebuild on next use;
  * correctness is unaffected). The memo drop IS per-session. A process
  * hosting concurrent tenant sessions should call this at tenant-idle
  * points, not mid-workload.
  */
object Caches {

  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.SessionMemo.dropSession(spark)
  }
}
