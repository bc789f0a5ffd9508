package graft

/** Session-lifetime storage contract: query builders may cache
  * multi-consumed intermediates (LSH signatures, fingerprint relations,
  * rated usage) behind a lazily-returned frame, and a resident service
  * releases them by wrapping each query's consuming action in
  * [[GraftSession.withQueryCaches]]. This pins that the scope actually
  * drains everything — the round-7 audit counted 21 `.cache()` sites vs
  * 6 in-place unpersists, each benign per-query but cumulative in a
  * long-lived session.
  */
class CacheHygieneSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("withQueryCaches leaves zero residual cached RDDs after cache-heavy queries") {
    val sc = spark.sparkContext
    // the session is shared across suites — measure relative to entry
    val baseline = sc.getPersistentRDDs.keySet
    Seq("q76_media_fingerprint", "q99_semantic_dedup", "q100_multiprobe_lsh",
        "q40_als_recommend", "q13_confidence").foreach { name =>
      GraftSession.withQueryCaches(spark) {
        assert(q(name).count() > 0, s"$name returned no rows")
      }
      val residual = sc.getPersistentRDDs.keySet -- baseline
      assert(residual.isEmpty,
        s"$name leaked cached RDDs ${residual.toSeq.sorted}: " +
          residual.map(id => sc.getPersistentRDDs(id).name).mkString(", "))
    }
  }

  test("iterative ops' edge checkpoints actually SERVE the caller's action") {
    // The r12 ADVICE class: cache() + lazy loop + pre-return unpersist
    // never persisted a byte, so every round rebuilt the edge frame.
    // The fix (lazy localCheckpoint, released by withQueryCaches) is
    // observable: during the scope, the action must leave persisted
    // RDD blocks behind — zero persisted RDDs would mean the loop ran
    // uncheckpointed again.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = (1L to 200L).map(i => (i, i % 37 + 1, 1L)).toDF("s", "d", "w")
    val before = sc.getPersistentRDDs.keySet
    GraftSession.withQueryCaches(spark) {
      assert(graft.ops.PageRank.run(edges, "s", "d", "w", iters = 3).count() > 0)
      val during = sc.getPersistentRDDs.keySet -- before
      assert(during.nonEmpty,
        "PageRank ran without any materialized checkpoint — the " +
          "transition frame is being rebuilt every iteration again")
    }
    val before2 = sc.getPersistentRDDs.keySet
    GraftSession.withQueryCaches(spark) {
      assert(graft.ops.Hits.bipartite(edges, "s", "d", "w", iters = 2)
        .count() > 0)
      assert((sc.getPersistentRDDs.keySet -- before2).nonEmpty,
        "HITS ran without any materialized checkpoint")
    }
    // and the scope still drains them afterwards
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("withQueryCaches does not touch caches that predate the scope") {
    import spark.implicits._
    val outer = Seq(1, 2, 3).toDF("x").cache()
    outer.count()
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    GraftSession.withQueryCaches(spark) {
      val inner = Seq(4, 5).toDF("y").cache()
      inner.count()
    }
    assert((pinned -- sc.getPersistentRDDs.keySet).isEmpty,
      "a pre-existing cache was dropped by the scope")
    // storageLevel is the frame's CacheManager entry: the scope's
    // removal of its own entries must leave this one registered
    assert(outer.storageLevel.useMemory, "outer frame lost its storage level")
    outer.unpersist(blocking = true)
  }

  test("withQueryCaches removes the CacheManager entry of a cache() made inside it") {
    import spark.implicits._
    GraftSession.withQueryCaches(spark) {
      val inner = Seq(8, 9).toDF("z").cache()
      assert(inner.count() == 2)
      assert(inner.storageLevel.useMemory)
    }
    assert(Seq(8, 9).toDF("z").storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the scope left its cache() registered in the CacheManager")
  }
}
