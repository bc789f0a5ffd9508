package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The internals the benchmark reads and no public API exposes. */
object BenchAccess {
  /** Listener events are delivered asynchronously, so per-op counters are
    * read only after the bus has delivered everything posted so far.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries registered in the session's CacheManager (`Dataset.cache`,
    * `persist`), which only `unpersist` or `clearCache` removes.
    */
  def cachedPlans(spark: SparkSession): Int = {
    val f = spark.sharedState.cacheManager.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[scala.collection.Seq[_]].size
  }
}
