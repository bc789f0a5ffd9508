package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.expressions.CountMin

/** Incrementally maintained Count-Min sketch — the streaming form of
  * q252's frequency estimator: each batch folds its own depth×width
  * counter grid into the store with ONE elementwise vector add, so the
  * running sketch answers frequency queries over everything that has
  * ever arrived while per-batch work stays O(batch + depth·width).
  *
  * Unlike the order-sensitive stores ([[IncrementalForecast]] guards
  * against out-of-order feeds; [[IncrementalComponents]] relies on
  * star shape), CM counters are plain integer sums: ANY batch order,
  * partitioning, or replay interleaving yields the bit-identical grid
  * — the easiest possible incremental contract, worth having as the
  * family's commutative anchor (spec pins store ≡ one-shot sketch over
  * the union).
  *
  * Exactly-once protocol (the family idiom): batch N OVERWRITES its
  * own `v=N` derived only from `v=N-1` + the batch; missing
  * predecessor fails fast.
  */
object IncrementalCountMin {

  private def versionDir(storeDir: String, batchId: Long) = s"$storeDir/v=$batchId"

  /** Sketch of store version `batchId − 1` (None for batch 0); fails
    * fast when a non-initial predecessor is missing.
    */
  private def readSketch(spark: SparkSession, storeDir: String,
                         batchId: Long): Option[DataFrame] = {
    if (batchId == 0) return None
    val prev = versionDir(storeDir, batchId - 1)
    val prevPath = new org.apache.hadoop.fs.Path(prev)
    val fs = prevPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(prevPath)) throw new IllegalStateException(
      s"IncrementalCountMin store version missing: $prev does not exist " +
        s"but batch $batchId is not the first. Refusing to restart the " +
        "counts from only the live batch — restore the store or reset " +
        "checkpoint+store together.")
    StoreProtocol.requireCommitted(fs, prevPath, "IncrementalCountMin", batchId)
    Some(spark.read.parquet(prev))
  }

  /** Fold one batch of items into the store: version N's grid =
    * version N−1's grid + the batch's own sketch, elementwise. Pure in
    * (v=N−1, batch) — replay-idempotent. Returns the committed sketch.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   itemCol: String, depth: Int, width: Int): DataFrame = {
    val spark = batch.sparkSession
    CountMin.register(spark)
    val bs = batch.toDF()
      .agg(CountMin.sketch(col(itemCol), depth, width).as("sk"))
    val merged = readSketch(spark, storeDir, batchId) match {
      case None => bs
      case Some(p) =>
        bs.crossJoin(broadcast(p.select(col("sk").as("__psk"))))
          .select(zip_with(col("sk"), col("__psk"),
            (a, b) => zip_with(a, b, (x, y) => x + y)).as("sk"))
    }
    merged.write.mode("overwrite").parquet(versionDir(storeDir, batchId))
    spark.read.parquet(versionDir(storeDir, batchId))
  }

  /** Wire an item stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            itemCol: String, depth: Int, width: Int)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, itemCol, depth, width): Unit
      }
      .start()
}
