package graft

import org.apache.spark.sql.functions._
import graft.operators.OpUtil

/** OpUtil.shared's bounded live-cache registry (r18): a long-lived session
  * calling shared()-backed operators repeatedly must not accumulate
  * executor-storage blocks until the ContextCleaner happens to run (the r17
  * verdict's storage-growth item) — past the cap the oldest cache is
  * unpersisted eagerly, and an evicted frame still answers correctly by
  * recomputing from its lineage. */
class SharedCacheSpec extends SparkTestBase {

  test("live shared caches stay bounded under repeated operator calls") {
    val cap = OpUtil.SharedCacheMaxLive
    val n = 2 * cap
    // every frame stays reachable, so only eviction at the cap can bound
    // the registry (the ContextCleaner never sees a dead cache here)
    val frames = (1 to n).map { i =>
      val (df, _) = OpUtil.sharedWithHandle(
        spark.range(100).select(col("id"), lit(i).as("tag")))
      df.count() // materialize the cache like an operator action would
      df
    }
    // registry bounded at the cap...
    assert(OpUtil.liveSharedCount <= cap)
    // ...and the Spark-side persistent-RDD map does not grow without
    // bound either: at most cap live shared caches remain cached (other
    // suites' caches may coexist in the shared session, so count only
    // growth across THIS loop, which created n)
    val cachedNow = spark.sparkContext.getPersistentRDDs.size
    assert(cachedNow < n, s"expected eager eviction, $cachedNow RDDs cached")
    // an EVICTED frame (the first one) recomputes from lineage, same rows
    assert(frames.head.agg(sum("id")).collect().head.getLong(0) === 4950L)
    assert(frames.head.select(max("tag")).collect().head.getInt(0) === 1)
  }
}
