package graft

import org.apache.spark.sql.functions._

import graft.streaming.IncrementalComponents

/** The incrementally maintained component labels must be BIT-IDENTICAL
  * to a from-scratch CC over every edge that has arrived — through
  * cluster births, cross-batch merges, singleton persistence, and
  * crash replays — while each batch reads only the label store (one
  * row per node), never the edge history.
  */
class IncrementalComponentsSpec extends SparkSuite {

  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labels track births, survive quiet batches, and merge across batches exactly") {
    val storeDir = GraftSession.scratchDir("graft_cc").toString
    // batch 0: two clusters are born
    val b0 = Seq((1L, 2L), (3L, 4L)).toDF("s", "t")
    assert(labelMap(IncrementalComponents.processBatch(b0, 0, storeDir)) ==
      Map(1L -> 1, 2L -> 1, 3L -> 3, 4L -> 3))
    // batch 1: an unrelated cluster; earlier labels persist untouched
    val b1 = Seq((5L, 6L)).toDF("s", "t")
    assert(labelMap(IncrementalComponents.processBatch(b1, 1, storeDir)) ==
      Map(1L -> 1, 2L -> 1, 3L -> 3, 4L -> 3, 5L -> 5, 6L -> 5))
    // batch 2: one edge merges the first two clusters; 5/6 untouched
    val b2 = Seq((2L, 3L)).toDF("s", "t")
    val merged = labelMap(IncrementalComponents.processBatch(b2, 2, storeDir))
    assert(merged == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 5, 6L -> 5))
    // bit-identical to the from-scratch recompute over the full history
    val all = b0.unionByName(b1).unionByName(b2)
    val scratch = labelMap(
      graft.ops.ConnectedComponents.labelPropagation(all, "s", "t"))
    assert(merged == scratch)
  }

  test("a crash-replayed batch rewrites an identical version; a missing predecessor fails fast") {
    val storeDir = GraftSession.scratchDir("graft_cc_rp").toString
    val b0 = Seq((1L, 2L)).toDF("s", "t")
    val b1 = Seq((2L, 3L)).toDF("s", "t")
    IncrementalComponents.processBatch(b0, 0, storeDir)
    val first = labelMap(IncrementalComponents.processBatch(b1, 1, storeDir))
    // replay of batch 1 (crash after write, before checkpoint commit):
    // derived purely from v=0 + the batch, so the rewrite is identical
    val replayed = labelMap(IncrementalComponents.processBatch(b1, 1, storeDir))
    assert(first == replayed && first == Map(1L -> 1, 2L -> 1, 3L -> 1))
    // a non-initial batch with no predecessor version must refuse to
    // relabel from only the live batch
    val orphan = intercept[IllegalStateException] {
      IncrementalComponents.processBatch(b0, 7,
        GraftSession.scratchDir("graft_cc_orphan").toString)
    }
    assert(orphan.getMessage.contains("store version missing"))
  }
}
