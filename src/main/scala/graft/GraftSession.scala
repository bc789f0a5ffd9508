package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The engine's session entry point: a SparkSession.Builder preloaded
  * with the configuration the library is designed around. Library users
  * call `GraftSession.builder(...)` instead of rebuilding the config
  * story by hand; every knob remains overridable on the returned builder.
  *
  * What it sets and why:
  *  - `spark.sql.extensions = GraftExtensions` — SQL-callable custom
  *    expressions (dot product, minhash) and the range-join rewrite rule;
  *  - `spark.sql.shuffle.partitions = cores` for local mode (the 200
  *    default over-partitions a single machine; clusters pass their own);
  *  - AQE `coalescePartitions.minPartitionSize = 16k` — keeps
  *    tiny-but-exploding map stages wide (see SCALE.md, "Optimizer
  *    interactions");
  *  - UTC session timezone — deterministic date math across deployments.
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
              local: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", classOf[graft.engine.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    if (local) b.master(s"local[$cores]").config("spark.sql.shuffle.partitions", cores)
    else b
  }

  /** Run `f`, then release every cache registered during it: the
    * `Dataset.cache()` entries in the session's CacheManager and every
    * RDD persisted or checkpointed.
    *
    * Several query builders cache a multi-consumed intermediate — LSH
    * signature tables (`llm/SimSearch.scala`), fingerprint relations
    * (`queries/Media.scala`), min-max'd usage (`queries/Reports.scala`),
    * SimHash signatures (`llm/DedupOps.scala`) — and hand back a LAZY
    * frame, so the builder cannot unpersist before the caller's action
    * without defeating the cache. In a one-query-per-JVM batch run (the
    * bench, the Verify dump) the session dies with the query; a resident
    * service composing many queries in one session would accumulate
    * pinned storage instead. This scope is that service's contract: wrap
    * each query's CONSUMING action (write, collect, count) in it, and
    * storage persisted during the block — including by MLlib internals —
    * is released on exit (blocks freed, entries removed from the
    * persistent-RDD registry and from the CacheManager, so a later
    * query can neither hit a stale entry nor re-materialize it;
    * `blocking = false` so exit never stalls on executor round-trips).
    * Entries and RDDs that predate the scope are left alone. Do not
    * reuse frames built inside the scope after it exits: plain caches
    * recompute correctly (just slower), but a `localCheckpoint`
    * truncates lineage and cannot.
    */
  def withQueryCaches[T](spark: SparkSession)(f: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val entriesBefore = cacheEntries(spark)
    try f
    finally {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      cacheEntries(spark).filterNot(cd => entriesBefore.exists(_ eq cd)).foreach { cd =>
        session.sharedState.cacheManager.uncacheQuery(session, cd.plan,
          cascade = false, blocking = false)
      }
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** The CacheManager's registered entries. Spark exposes lookup by
    * plan and whole-cache clearing, but no listing, so the scope reads
    * the private registry.
    */
  private def cacheEntries(spark: SparkSession): Seq[CachedData] =
    cachedDataField.invoke(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager).asInstanceOf[Seq[CachedData]]

  private lazy val cachedDataField = {
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m
  }
}
