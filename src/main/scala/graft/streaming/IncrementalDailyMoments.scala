package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained per-key exact moments (count, sum, sum of
  * squares in decimal(38,0)) — the store behind serving-path monitors
  * (CUSUM q301, mSPRT q303, and any mean/variance dashboard): each batch folds its own
  * key-grain partial aggregate into the store with one full-outer add,
  * so the monitor read path touches STORE ROWS ONLY (days × keys), not
  * the event corpus. The add-based member of the family: counts and
  * sums are plain integer adds — commutative across batch order and
  * partitioning, so the store is bit-identical to a one-shot aggregate
  * of the union — but not duplicate-immune, hence the shared
  * version-overwrite protocol (batch N rewrites its own `v=N` derived
  * only from `v=N−1` + the batch; a missing predecessor fails fast; a
  * torn predecessor trips [[StoreProtocol.requireCommitted]]).
  */
object IncrementalDailyMoments {

  private def versionDir(storeDir: String, batchId: Long) = s"$storeDir/v=$batchId"

  /** Store version `batchId − 1` (None for batch 0); fails fast on a
    * missing or torn non-initial predecessor.
    */
  private def readMoments(spark: SparkSession, storeDir: String,
                          batchId: Long): Option[DataFrame] = {
    if (batchId == 0) return None
    val prev = versionDir(storeDir, batchId - 1)
    val prevPath = new org.apache.hadoop.fs.Path(prev)
    val fs = prevPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(prevPath)) throw new IllegalStateException(
      s"IncrementalDailyMoments store version missing: $prev does not " +
        s"exist but batch $batchId is not the first. Refusing to restart " +
        "the moments from only the live batch — restore the store or " +
        "reset checkpoint+store together.")
    StoreProtocol.requireCommitted(fs, prevPath, "IncrementalDailyMoments",
      batchId)
    Some(spark.read.parquet(prev))
  }

  /** Fold one batch of (key..., value) rows into the store: version N's
    * (n, s, ss) = version N−1's + the batch's own partial per key,
    * full-outer on the keys. The second moment rides along so
    * variance-consuming monitors (mSPRT q303) serve from the same
    * store rows as the mean-consuming ones (CUSUM q301). Pure in
    * (v=N−1, batch) — replay-idempotent. Returns the committed frame
    * (keyCols..., n, s, ss).
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   keyCols: Seq[String], valueCol: String): DataFrame = {
    require(keyCols.nonEmpty,
      "IncrementalDailyMoments needs >= 1 key column; for a global " +
        "store add a constant column (lit(\"all\"))")
    val spark = batch.sparkSession
    val v = col(valueCol)
    val bs = batch.toDF().groupBy(keyCols.map(col): _*)
      .agg(count(v).as("n"),
        sum(v.cast("decimal(38,0)")).as("s"),
        sum(v.cast("decimal(38,0)") * v).as("ss"))
    def z = lit(0L).cast("decimal(38,0)")
    val merged = readMoments(spark, storeDir, batchId) match {
      case None => bs
      case Some(prev) =>
        bs.withColumnRenamed("n", "__bn").withColumnRenamed("s", "__bs")
          .withColumnRenamed("ss", "__bq")
          .join(prev.withColumnRenamed("n", "__pn")
            .withColumnRenamed("s", "__ps").withColumnRenamed("ss", "__pq"),
            keyCols, "full_outer")
          .select(keyCols.map(col) ++ Seq(
            (coalesce(col("__bn"), lit(0L)) + coalesce(col("__pn"), lit(0L)))
              .as("n"),
            (coalesce(col("__bs"), z) + coalesce(col("__ps"), z))
              .cast("decimal(38,0)").as("s"),
            (coalesce(col("__bq"), z) + coalesce(col("__pq"), z))
              .cast("decimal(38,0)").as("ss")): _*)
    }
    merged.write.mode("overwrite").parquet(versionDir(storeDir, batchId))
    spark.read.parquet(versionDir(storeDir, batchId))
  }

  /** Wire a (key..., value) stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            keyCols: Seq[String], valueCol: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, keyCols, valueCol): Unit
      }
      .start()
}
