package graft.streaming

import org.apache.spark.sql.functions._

/** The shared generation-store protocol's replay guard, pinned directly:
  * [[GenStore.autoCompact]] must never fold a live batch whose id is
  * the CURRENT batch id (a crash replay of an uncommitted batch — the
  * double-count window), and must fold below-threshold accumulations
  * only once the threshold is reached.
  */
class GenStoreSpec extends graft.SparkSuite {

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  test("autoCompact: threshold-gated, never folds the current (replayable) batch") {
    val dir = graft.GraftSession.scratchDir("genstore_ac").toString
    val cents = graft.llm.SimSearch.seedCentroids(emb, "vec_id", "embedding", 8).cache()
    def ingest(id: Long): Unit = IncrementalIvf.processBatch(
      emb.filter(col("vec_id") % 3 === id % 3), id, cents, "vec_id", "embedding", dir)
    var folds = 0
    def tryCompact(batchId: Long, every: Int): Unit =
      GenStore.autoCompact(spark, dir, batchId, every) {
        folds += 1; IncrementalIvf.compact(spark, dir)
      }

    ingest(0)
    // below threshold: no fold
    tryCompact(batchId = 1, every = 2)
    assert(folds == 0 && GenStore.latestCompaction(spark, dir).isEmpty)
    ingest(1)
    // threshold reached BUT batch 1 is "current" in a replay scenario:
    // its id is not < batchId, so the guard must refuse
    tryCompact(batchId = 1, every = 2)
    assert(folds == 0, "folded a replayable batch")
    // next batch's invocation may fold batches 0 and 1
    tryCompact(batchId = 2, every = 2)
    assert(folds == 1)
    val gen = GenStore.latestCompaction(spark, dir)
    assert(gen.nonEmpty && gen.get._2 == 1L, s"high-water mark: $gen")
    // disabled trigger (every = 0) never folds
    ingest(2); ingest(3)
    tryCompact(batchId = 4, every = 0)
    assert(folds == 1)
    // idempotent: a second fold at the same point folds the new batches
    tryCompact(batchId = 4, every = 2)
    assert(folds == 2 && GenStore.latestCompaction(spark, dir).get._2 == 3L)
    cents.unpersist()
  }
}
