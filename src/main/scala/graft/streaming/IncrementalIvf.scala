package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.SimSearch

/** Streaming maintenance of an on-disk IVF similarity index: embeddings
  * arrive continuously, each micro-batch is assigned to its nearest
  * centroid and appended to a bucket-partitioned parquet index, and
  * probes read ONLY their probed buckets' files.
  *
  * This is the frozen-index regime every production ANN service runs:
  * centroids are trained once (here [[SimSearch.seedCentroids]] or any
  * learned set) and FIXED; assignment of a new vector depends only on
  * the vector and the centroids, so incremental ingestion is
  * embarrassingly parallel and the incrementally-built index is
  * row-identical to batch-bucketing the same corpus
  * (IncrementalIvfSpec pins probe-result equality with
  * [[SimSearch.ivfTopK]] over the full corpus, plus replay safety).
  *
  * 100 TB shape:
  *  - the index directory is hive-partitioned by `bucket`, so a probe's
  *    `bucket IN (…)` filter becomes DIRECTORY pruning — a query with
  *    nProbe = 4 of 1024 buckets reads ~0.4 % of the index bytes
  *    (spec asserts `PartitionFilters` on the probe scan);
  *  - per batch the only work is |batch|·nCentroids codegen'd dot
  *    products and one partitioned write — no shuffle of the existing
  *    index, which is never rewritten;
  *  - the probed-bucket id set pulled to the driver is bounded by
  *    nCentroids (the KMeans-centroid gate), never by data.
  *
  * Replay-idempotent like [[ContinuousTrainingPrep]]: each batch
  * overwrites its own `batch=<id>` subdirectory, so a crash-replayed
  * micro-batch rewrites identical files.
  */
object IncrementalIvf {

  /** Assign one arriving slice to buckets and commit it to the index.
    *
    * Centroid resolution: a [[refresh]] commits new centroids BESIDE the
    * generation it rebuilds, so ingestion must follow them — otherwise
    * batches after a refresh would be bucketed in the superseded centroid
    * space while probes rank buckets in the refreshed one. `cents` is
    * therefore only the FALLBACK for an index that has never been
    * refreshed; when `v=G.centroids` exists it wins
    * (IncrementalIvfSpec pins post-refresh ingestion equality).
    */
  def processBatch(batch: Dataset[Row], batchId: Long, cents: DataFrame,
                   idCol: String, embCol: String, indexDir: String): Unit = {
    val live = latestCentroids(batch.sparkSession, indexDir).getOrElse(cents)
    val c = SimSearch.unitized(batch.toDF(), idCol, embCol, idCol, "__ne")
    SimSearch.nearestBuckets(c, live, idCol, "__ne", 1)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/batch=$batchId")
  }

  /** Wire an embeddings stream into the index. `autoCompactEvery` > 0
    * folds live batches into a new generation whenever that many have
    * accumulated ([[GenStore.autoCompact]] — replay-safe, fires before
    * the batch's own write so probes mid-stream stay consistent).
    */
  def start(stream: DataFrame, cents: DataFrame, idCol: String,
            embCol: String, indexDir: String, checkpointDir: String,
            autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, indexDir, id, autoCompactEvery) {
          compact(df.sparkSession, indexDir)
        }
        processBatch(df, id, cents, idCol, embCol, indexDir)
      }
      .start()

  /** Top-K probe against the on-disk index: rank each query's `nProbe`
    * nearest buckets, then scan ONLY those buckets' partitions with the
    * exact cosine rerank shared with the batch path
    * ([[SimSearch.probeRank]]). Reads through [[readIndex]], so probes
    * see compacted generations and live batches as one index.
    */
  def probe(spark: SparkSession, indexDir: String, queries: DataFrame,
            cents: DataFrame, idCol: String, embCol: String, k: Int,
            nProbe: Int): DataFrame = {
    // same centroid resolution as processBatch: after a refresh, query
    // buckets MUST be ranked in the committed centroid space the index
    // is bucketed in — a caller still holding the seed frame would
    // otherwise probe the wrong partitions and silently lose recall
    val live = latestCentroids(spark, indexDir).getOrElse(cents)
    val q = SimSearch.unitized(queries, idCol, embCol, "query_id", "__qe")
    val probed = SimSearch.nearestBuckets(q, live, "query_id", "__qe", nProbe)
    // ≤ nCentroids scalar ids — the literal IN list that turns the scan
    // filter into hive-directory pruning
    val buckets = probed.select("bucket").distinct().collect().map(_.getLong(0))
    val index = readIndex(spark, indexDir)
      .filter(col("bucket").isin(buckets: _*))
      .select(col(idCol), col("__ne"), col("bucket").cast("long").as("bucket"))
    SimSearch.probeRank(probed, index, idCol, k)
  }

  // ---------------------------------------------------------------------
  // Compaction: fold the accumulated per-batch directories into one
  // bucket-partitioned generation, so posting lists stop fragmenting
  // (every micro-batch adds ≤1 small file per bucket; after B batches a
  // probe of one bucket opens B files — compaction returns that to 1,
  // sized at parquet's row-group sweet spot).
  //
  // Exactly-once protocol (the IncrementalPack/IncrementalCooccur
  // discipline, applied to an index):
  //  - generation data is written FIRST, to `_compacted/v=G` (the `_`
  //    prefix hides it from any legacy whole-directory parquet scan);
  //  - a one-line manifest `_compacted/v=G.manifest.json` (gen + the
  //    max batch id folded in) is created AFTER the data via
  //    write-temp-then-RENAME — the atomic commit point;
  //  - folded `batch=N` directories are deleted only AFTER the manifest
  //    commit, and deletion is idempotent.
  // Crash anywhere: before the rename, readers never see v=G (no
  // manifest) and a re-run overwrites the partial data; after the
  // rename, readers already exclude the folded batches (reader filter
  // is `batch id > manifest.maxBatch`), and a re-run just re-deletes.
  // Restart mid-compaction therefore always yields an identical index
  // (IncrementalIvfSpec pins this).
  // ---------------------------------------------------------------------

  // Protocol primitives shared with the other generation stores live in
  // [[GenStore]]; only the fold itself (what a generation contains, how
  // it partitions) is index-specific.

  /** The newest generation with a COMMITTED manifest (gen, maxBatch). */
  def latestCompaction(spark: SparkSession, indexDir: String): Option[(Long, Long)] =
    GenStore.latestCompaction(spark, indexDir)

  /** The index as one frame: latest committed generation + live batch
    * directories. Falls back to the legacy whole-directory read when no
    * compaction has ever run.
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    latestCompaction(spark, indexDir) match {
      case None => spark.read.parquet(indexDir)
      case Some((gen, maxBatch)) =>
        val compacted = spark.read.parquet(GenStore.genDir(indexDir, gen))
        // one single-root read per batch dir: sibling `batch=N` roots in
        // one multi-path read trip partition discovery
        // (CONFLICTING_DIRECTORY_STRUCTURES); per-root reads are
        // unambiguous and union cheaply (no shuffle)
        GenStore.nonEmptyPaths(spark, indexDir,
            GenStore.liveBatchIds(spark, indexDir, maxBatch)
              .map(b => s"$indexDir/batch=$b"))
          .map(spark.read.parquet(_))
          .foldLeft(compacted)(_ unionByName _)
    }

  /** Fold every live batch into generation latest+1. No-op (except the
    * idempotent cleanup re-run) when nothing new arrived. Safe to call
    * from a maintenance schedule concurrent with probes: readers switch
    * atomically at the manifest rename.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val prev = GenStore.latestCompaction(spark, indexDir)
    val prevMax = prev.map(_._2).getOrElse(-1L)
    val live = GenStore.liveBatchIds(spark, indexDir, prevMax)
    // empty micro-batches fold trivially (no data, but the manifest's
    // high-water mark still advances past them so cleanup removes them)
    val sources = prev.map { case (g, _) => GenStore.genDir(indexDir, g) }.toSeq ++
      GenStore.nonEmptyPaths(spark, indexDir, live.map(b => s"$indexDir/batch=$b"))
    if (live.nonEmpty && sources.nonEmpty) {
      val newGen = prev.map(_._1).getOrElse(0L) + 1
      sources.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(GenStore.genDir(indexDir, newGen))
      // carry refreshed centroids forward: cleanup deletes EVERYTHING of
      // superseded generations including `v=G.centroids`, and the folded
      // data is still assigned in that centroid space — copy before the
      // commit point so a crash in between leaves the old unit intact
      prev.map(_._1).map(centroidsDir(indexDir, _))
        .filter(d => GenStore.nonEmptyPaths(spark, indexDir, Seq(d)).nonEmpty)
        .foreach { d =>
          spark.read.parquet(d).write.mode("overwrite")
            .parquet(centroidsDir(indexDir, newGen))
        }
      GenStore.commitManifest(spark, indexDir, newGen, live.max)
    }
    // cleanup AFTER commit; idempotent, also re-run after a crash that
    // landed between the rename and the deletes
    GenStore.cleanup(spark, indexDir)
  }

  private def centroidsDir(indexDir: String, gen: Long) =
    s"${GenStore.compactedRoot(indexDir)}/v=$gen.centroids"

  /** Centroid REFRESH — the drift answer the frozen-index regime needs
    * eventually: re-learn centroids from the indexed corpus itself
    * (Lloyd steps seeded from the CURRENT assignment's bucket means —
    * never a cold restart) and atomically rebuild the index as a new
    * generation assigned to the refreshed centroids, which are stored
    * BESIDE the generation (`v=G.centroids`) so probes and subsequent
    * ingestion read index + centroids as one versioned unit
    * ([[latestCentroids]]). The manifest rename is still the only
    * commit point: a crash mid-refresh leaves the old index (and old
    * centroids) fully visible.
    *
    * Spherical-Lloyd objective (Σ max-cosine) is monotone in the seeds
    * → means → refine chain, so a refresh never degrades the clustering
    * it replaces (spec-pinned). Cost: one full-index read + iters+1
    * assignment passes + one partitioned rewrite — the re-clustering
    * floor; run it at drift cadence, not batch cadence.
    *
    * Concurrency contract: refresh() must not run concurrently with
    * ingestion across the CENTROID-SPACE SWITCH — a micro-batch that
    * resolved centroids before the new manifest commit but wrote after
    * it would land old-space bucket ids that the next compact() folds
    * into the refreshed generation unrepaired. Quiesce the stream (or
    * schedule refresh between triggers, as the auto-compaction hook
    * does for folds) around the refresh call; captured-read-set
    * batches racing only compact() remain safe.
    */
  def refresh(spark: SparkSession, indexDir: String, idCol: String,
              iters: Int = 2): DataFrame = {
    val prev = GenStore.latestCompaction(spark, indexDir)
    val prevMax = prev.map(_._2).getOrElse(-1L)
    val live = GenStore.liveBatchIds(spark, indexDir, prevMax)
    // fold the CAPTURED read set (mirroring compact), not a re-listing
    // via readIndex: a micro-batch landing between two listings would be
    // folded yet stay above the manifest high-water mark and be read
    // twice ever after
    val sources = prev.map { case (g, _) => GenStore.genDir(indexDir, g) }.toSeq ++
      GenStore.nonEmptyPaths(spark, indexDir, live.map(b => s"$indexDir/batch=$b"))
    val c = (if (prev.isEmpty && sources.isEmpty)
        spark.read.parquet(indexDir) // legacy never-compacted layout
      else sources.map(spark.read.parquet(_)).reduce(_ unionByName _))
      .select(col(idCol), col("__ne"),
        col("bucket").cast("long").as("bucket")).cache()
    val seeds = SimSearch.bucketMeans(c)
      .select(col("cent_id"), col("__new").as("cent_emb"))
    val cents = SimSearch.lloydIterate(c.select(col(idCol), col("__ne")),
      seeds, idCol, iters)
    val newGen = prev.map(_._1).getOrElse(0L) + 1
    SimSearch.nearestBuckets(c.select(col(idCol), col("__ne")), cents,
        idCol, "__ne", 1)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(GenStore.genDir(indexDir, newGen))
    cents.write.mode("overwrite").parquet(centroidsDir(indexDir, newGen))
    GenStore.commitManifest(spark, indexDir, newGen,
      if (live.nonEmpty) live.max else prevMax)
    GenStore.cleanup(spark, indexDir)
    c.unpersist(blocking = false)
    cents
  }

  /** The centroid set committed with the newest generation, when that
    * generation was produced by [[refresh]] (a plain [[compact]] keeps
    * whatever centroids the caller holds).
    */
  def latestCentroids(spark: SparkSession, indexDir: String): Option[DataFrame] =
    GenStore.latestCompaction(spark, indexDir).flatMap { case (g, _) =>
      val dir = centroidsDir(indexDir, g)
      if (GenStore.nonEmptyPaths(spark, indexDir, Seq(dir)).nonEmpty)
        Some(spark.read.parquet(dir))
      else None
    }
}
