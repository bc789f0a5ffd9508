package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The engine's session entry point and the only place a SparkSession is
  * configured: the tests, Verify, Bench, the profiler and library users
  * all call `GraftSession.builder(...)`; every knob remains overridable
  * on the returned builder.
  *
  * What it sets and why:
  *  - `spark.sql.extensions = GraftExtensions` — SQL-callable custom
  *    expressions (dot product, minhash); it adds no optimizer rule;
  *  - `spark.sql.shuffle.partitions = cores` for local mode (the 200
  *    default over-partitions a single machine; clusters pass their own);
  *  - AQE `coalescePartitions.minPartitionSize = 16k` — parallelism-first
  *    coalescing would merge a compact (sub-1MB) map stage to ONE
  *    partition, and when that stage feeds an exploding similarity
  *    self-join the whole join runs single-threaded (measured 3x on the
  *    flow queries); the floor keeps tiny-but-exploding map stages wide
  *    (see SCALE.md, "Optimizer interactions");
  *  - UTC session timezone — deterministic date math across deployments.
  *
  * There is no plan switch: every query has one plan, and the plan the
  * bench times is the plan the oracle gates.
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

  /** A "steady-state store" for an incremental query: a store directory
    * whose versions 0-1 are built once per (query, sf dir) in this JVM,
    * then batch 2 folded in on every call. What every batch after the
    * first costs in deployment is one batch against an existing store,
    * so that is what a repeated run measures. `batch(store, i)` must
    * follow the version-overwrite protocol (batch i rewrites `v=i` from
    * `v=i-1`), which makes the store after batch 2 bit-identical to a
    * cold 3-batch replay; a one-query-per-JVM run (Verify) therefore
    * still gates the cold replay. The directories live under the
    * [[scratchDir]] root, deleted when the JVM exits.
    *
    * One store serves every call for its (query, dir), and each call
    * rewrites its `v=2`. A frame read from the store must
    * therefore be consumed before the same query runs again on the same
    * dir, and concurrent calls for one (query, dir) are not supported.
    * Bench, Verify and the specs consume each result before the next call.
    */
  def steadyStateStore(query: String, dir: String)(batch: (String, Long) => Unit): String = {
    val store = stores.computeIfAbsent((query, dir), _ => {
      val s = scratchDir(query).toString
      batch(s, 0L); batch(s, 1L); s
    })
    batch(store, 2L)
    store
  }

  private val stores = new ConcurrentHashMap[(String, String), String]()

  /** A fresh directory, named `prefix` plus a random suffix, under this
    * JVM's one scratch root in `java.io.tmpdir`. The root and everything
    * under it is deleted when the JVM exits, so no store, index or test
    * fixture written here outlives the process.
    */
  def scratchDir(prefix: String): Path = Files.createTempDirectory(scratchRoot, prefix)

  private lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft_scratch")
    // Entries may vanish mid-walk (Spark's own exit hook deletes
    // checkpoint files): a missing entry is skipped, not an error.
    sys.addShutdownHook(Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      private def delete(p: Path): FileVisitResult = {
        try Files.deleteIfExists(p) catch { case _: IOException => () }
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = delete(f)
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = delete(f)
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = delete(d)
    }))
    root
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
