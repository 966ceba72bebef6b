package graft

/** The [[CacheScope]] gate (round-7 verdict item 2): cache lifecycle is
  * an API, not a scaladoc contract. Every registered query must leave
  * `spark.sharedState.cacheManager` EMPTY once its result is
  * materialized, so a long-lived application can run queries forever
  * without leaking storage memory and Bench/Verify carry no manual
  * `clearCache()`.
  *
  * `CacheScope` pins are eager local checkpoints, not cache-manager
  * entries, so this gate no longer sees them: it catches a raw
  * `persist()`/`cache()` left behind by an operator. Pin release (and
  * the block-manager side of it) is `CacheScopeSpec`'s to check.
  * Checkpoint blocks backing scoped results are GC-managed by the
  * ContextCleaner and free themselves when the result is dropped.
  */
class CacheHygieneSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("cacheManager is empty after every registered query materializes") {
    // start clean: another suite sharing the session may have pinned data
    spark.catalog.clearCache()
    val leaks = Queries.all.flatMap { q =>
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      if (spark.sharedState.cacheManager.isEmpty) None
      else {
        spark.catalog.clearCache() // isolate the report per query
        Some(q.name)
      }
    }
    assert(leaks.isEmpty,
      s"queries left cached plans behind (unscoped persist?): $leaks")
  }
}
