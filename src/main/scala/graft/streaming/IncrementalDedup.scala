package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.llm.DedupOps
import graft.ops.ConnectedComponents

/** Streaming corpus admission with MinHash-LSH near-dup screening — the
  * continuous form of the q26/q129 batch dedup: documents arrive in
  * micro-batches and a document is ADMITTED only when its verified
  * Jaccard against every previously admitted document (and every
  * admitted representative of its own batch) stays below `tau`. This is
  * the ingestion gate of a continuously-growing training corpus: the
  * admitted set never contains a candidate pair at or above the
  * threshold, no matter how the arrival order slices the corpus.
  *
  * Reference counterpart: none — the reference dedups only within one
  * static frame (`main.py:64` drop_duplicates); the streaming
  * admission shape is the brief's training-data-pipeline extension.
  *
  * Decision policy (deterministic, documented):
  *  1. HISTORY SCREEN — batch docs whose banded signature collides with
  *     a stored signature are verified (exact Jaccard on the hashed
  *     shingle sets); a verified match ≥ tau rejects the doc with
  *     `dup_of` = the smallest matching admitted id.
  *  2. IN-BATCH SCREEN — survivors of (1) run the q26 LSH self-join;
  *     verified edges form components ([[ConnectedComponents]] min-label)
  *     and only each component's minimum id is admitted, `dup_of` = the
  *     component representative for the rest. Near-duplication is not
  *     transitive, so min-id-per-component is a policy, not a theorem —
  *     the same policy as the q99 semantic dedup.
  *
  * Store layout under `storeDir` (append-only, one dir per batch):
  * {{{
  *   batch=N/sigs/sb=K/   (id, band, sig)  — admitted docs' band rows,
  *                        hive-partitioned by sb = signature bucket
  *   batch=N/docs/        (id, sh)         — admitted docs' xxhash64'd
  *                        shingle sets (8-byte elements, q129 discipline)
  *   batch=N/decisions/   (id, admitted, dup_of)
  *   _compacted/v=G/      the same three sub-stores folded by
  *                        [[compact]] (GenStore manifest protocol)
  * }}}
  *
  * 100 TB shape:
  *  - Only fixed-width (id, band, sig) rows enter the history collision
  *    join; the signature store is `bands` × ~24 bytes per admitted doc
  *    (a 1B-doc corpus at bands=4 is ~100 GB of signatures vs the
  *    corpus' tens of TB) and the shingle arrays never shuffle — the
  *    verify joins them to the candidate sliver where they are read.
  *  - The signature store is hive-partitioned by `sb = pmod(xxhash64(
  *    sig), sigBuckets)`. A batch computes its own distinct `sb` set
  *    (driver pull bounded by `sigBuckets` — the [[IncrementalIvf]]
  *    bucket gate, never data-sized) and the history read prunes to
  *    those partitions: a small batch against a huge history touches
  *    only the buckets it can possibly collide in.
  *  - History DOCS are read only to verify candidates; the join is
  *    id-equi and AQE sizes it. At extreme history/batch ratios the
  *    [[graft.ops.BloomPrune]] idiom drops non-candidate doc rows at
  *    the scan.
  *  - Per-batch dir count grows linearly in batches; the
  *    [[IncrementalIvf.compact]] generation protocol applies verbatim
  *    to `sigs`/`docs` (same layout: partitioned parquet under
  *    versioned dirs).
  *
  * Exactly-once: batch N derives only from dirs `batch<N` and the batch
  * data, and OVERWRITES its own `batch=N` dir — a crash-replayed batch
  * rewrites identical files ([[IncrementalPack]] idiom). The spec pins
  * replay identity and the no-admitted-near-dup invariant.
  */
object IncrementalDedup {

  /** @param bands       LSH bands (q26 default discipline)
    * @param rowsPerBand minhash rows concatenated per band
    * @param tau         verified-Jaccard rejection threshold
    * @param sigBuckets  hive partitions of the signature store; also the
    *                    bound on the per-batch driver pull
    */
  final case class Config(bands: Int = 4, rowsPerBand: Int = 2,
                          tau: Double = 0.5, sigBuckets: Int = 64)

  private def batchDir(storeDir: String, id: Long) = f"$storeDir/batch=$id"

  /** The store's readable parts covering batches `< upTo`: the newest
    * committed generation (which folds batches ≤ its high-water mark)
    * plus the live `batch=N` dirs above it. Generations share the batch
    * dirs' internal layout (`sigs`/`docs`/`decisions`), so readers
    * treat both uniformly. FAILS FAST when a generation has folded
    * batch `upTo` itself or beyond — replaying a batch after its output
    * was folded would let the batch see its own admitted docs as
    * history and reject everything as a dup of itself; compaction is a
    * between-batches maintenance step, never concurrent with a replay
    * window (the [[IncrementalCooccur]] fail-fast discipline).
    */
  private def storeParts(spark: SparkSession, storeDir: String,
                         upTo: Long): Seq[String] =
    GenStore.latestCompaction(spark, storeDir) match {
      case Some((g, mb)) =>
        if (mb >= upTo) throw new IllegalStateException(
          s"IncrementalDedup: batch $upTo would replay but generation $g already " +
            s"folded batches <= $mb - its own output would screen itself. " +
            "Reset checkpoint+store together, or compact only between batches.")
        GenStore.genDir(storeDir, g) +:
          GenStore.liveBatchIds(spark, storeDir, mb).filter(_ < upTo)
            .map(b => s"$storeDir/batch=$b")
      case None =>
        GenStore.liveBatchIds(spark, storeDir, -1L).filter(_ < upTo)
          .map(b => s"$storeDir/batch=$b")
    }

  /** Union of one sub-store (`sigs`/`docs`/`decisions`) across parts —
    * one single-root read per part (sibling partitioned trees trip
    * multi-root discovery), skipping parts without data. None when no
    * part has any.
    */
  private def readSub(spark: SparkSession, storeDir: String,
                      parts: Seq[String], sub: String): Option[DataFrame] = {
    val ps = GenStore.nonEmptyPaths(spark, storeDir, parts.map(_ + "/" + sub))
    if (ps.isEmpty) None
    else Some(ps.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  /** Screen one micro-batch and commit its admitted docs + decisions.
    *
    * @param batch       (idCol: integral, shinglesCol: array<string>) frame;
    *                    empty-shingle docs are admitted trivially (they can
    *                    match nothing)
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   shinglesCol: String, storeDir: String,
                   cfg: Config = Config()): Unit = {
    val spark = batch.sparkSession
    graft.engine.expressions.MinHashBands.register(spark)

    val dedupped = batch
      .select(col(idCol).cast("long").as("id"),
        array_distinct(col(shinglesCol)).as("__raw"))
      .dropDuplicates("id")
    // Empty docs can near-dup nothing — admit without signatures.
    val empties = dedupped.filter(size(col("__raw")) === 0).select("id")
    val b = dedupped.filter(size(col("__raw")) > 0)
      .select(col("id"),
        // signatures hash the raw strings (MinHashBands contract); the
        // stored/verified sets are 8-byte element hashes (q129 discipline:
        // Jaccard is identical modulo 64-bit collisions within one union)
        graft.engine.expressions.MinHashBands.bandSignatures(
          col("__raw"), cfg.bands, cfg.rowsPerBand).as("__sigs"),
        array_distinct(transform(col("__raw"), t => xxhash64(t))).as("sh"))
      .cache()
    val sigs = b.select(col("id"), posexplode(col("__sigs")).as(Seq("band", "sig")))
      .withColumn("sb", pmod(xxhash64(col("sig")), lit(cfg.sigBuckets)).cast("int"))
      .cache()

    // ---- 1. history screen -------------------------------------------
    val prior = storeParts(spark, storeDir, batchId)
    val emptyDups = () => spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType), StructField("dup_of", LongType))))
    val histDups: DataFrame =
      readSub(spark, storeDir, prior, "sigs").zip(
          readSub(spark, storeDir, prior, "docs")) match {
        case None => emptyDups()
        case Some((allHistSigs, histDocs)) =>
          // Bounded driver pull: distinct signature buckets of THIS batch
          // (≤ sigBuckets values) → partition pruning on the history scan.
          val sbSet = sigs.select("sb").distinct().collect().map(_.getInt(0)).toSeq
          val histSigs = allHistSigs.filter(col("sb").isin(sbSet: _*))
          val cand = sigs
            .join(histSigs.select(col("sb"), col("band"), col("sig"),
              col("id").as("hid")), Seq("sb", "band", "sig"))
            .select("id", "hid").distinct()
          cand
            .join(b.select(col("id"), col("sh")), "id")
            .join(histDocs.select(col("id").as("hid"), col("sh").as("hsh")), "hid")
            .filter(DedupOps.jaccard(col("sh"), col("hsh")) >= cfg.tau)
            .groupBy("id").agg(min("hid").as("dup_of"))
      }
    val histDupsCached = histDups.cache()

    // ---- 2. in-batch screen ------------------------------------------
    val survivors = b.join(histDupsCached.select("id"), Seq("id"), "left_anti").cache()
    val sSigs = sigs.join(survivors.select("id"), "id")
    val sPairs = sSigs.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(sSigs.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val edges = sPairs
      .join(survivors.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(survivors.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(DedupOps.jaccard(col("sh_a"), col("sh_b")) >= cfg.tau)
      .select("id_a", "id_b")
    val comps = ConnectedComponents.labelPropagation(edges, "id_a", "id_b")
    val inBatchDups = comps.filter(col("node") =!= col("component"))
      .select(col("node").as("id"), col("component").as("dup_of"))

    // ---- decisions + commit ------------------------------------------
    val rejected = histDupsCached.unionByName(inBatchDups)
    val decisions = dedupped.select("id")
      .join(rejected, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
    val dir = batchDir(storeDir, batchId)
    // decisions first is NOT the commit point — every dir is rewritten
    // on replay; readers of a half-written batch dir are out of scope
    // (the store is read between batches, as the spec stages it).
    decisions.select(
        col("id"), col("admitted"), col("dup_of").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/decisions")
    val admittedIds = decisions.filter(col("admitted")).select("id")
    survivors.join(admittedIds, "id").select("id", "sh")
      .write.mode("overwrite").parquet(s"$dir/docs")
    sigs.join(admittedIds, "id").select("id", "band", "sig", "sb")
      .write.mode("overwrite").partitionBy("sb").parquet(s"$dir/sigs")
    // empty-shingle admits carry no signatures/docs rows by construction
    val _ = empties // (documents with no shingles appear only in decisions)

    Seq(b, sigs, histDupsCached, survivors).foreach(_.unpersist(blocking = false))
  }

  /** Wire a document stream into the admission store. `autoCompactEvery`
    * > 0 folds live batches whenever that many have accumulated
    * ([[GenStore.autoCompact]] — replay-safe: fires before the batch's
    * own write, never on a replayed uncommitted batch).
    */
  def start(stream: DataFrame, idCol: String, shinglesCol: String,
            storeDir: String, checkpointDir: String, cfg: Config = Config(),
            autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, storeDir, id, autoCompactEvery) {
          compact(df.sparkSession, storeDir)
        }
        processBatch(df.toDF(), id, idCol, shinglesCol, storeDir, cfg)
      }
      .start()

  /** All admitted docs' hashed shingle sets across the store
    * (generation + live batches).
    */
  def admitted(spark: SparkSession, storeDir: String): DataFrame =
    readSub(spark, storeDir, storeParts(spark, storeDir, Long.MaxValue), "docs")
      .getOrElse(sys.error(s"IncrementalDedup store empty: $storeDir"))

  /** Every admission decision (id, admitted, dup_of) across the store. */
  def decisions(spark: SparkSession, storeDir: String): DataFrame =
    readSub(spark, storeDir, storeParts(spark, storeDir, Long.MaxValue), "decisions")
      .getOrElse(sys.error(s"IncrementalDedup store empty: $storeDir"))

  /** Fold every live batch into generation latest+1 — the
    * [[GenStore]] protocol over the three sub-stores. Per-batch file
    * counts otherwise grow linearly in batch count (each micro-batch
    * adds up to one file per signature bucket); compaction keeps the
    * history read O(sigBuckets) files. Call BETWEEN batches (a
    * maintenance trigger, the [[IncrementalIvf.compact]] cadence);
    * [[storeParts]] fail-fasts if a replayable batch was folded.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val prev = GenStore.latestCompaction(spark, storeDir)
    val prevMax = prev.map(_._2).getOrElse(-1L)
    val live = GenStore.liveBatchIds(spark, storeDir, prevMax)
    if (live.nonEmpty) {
      val newGen = prev.map(_._1).getOrElse(0L) + 1
      val parts = prev.map { case (g, _) => GenStore.genDir(storeDir, g) }.toSeq ++
        live.map(b => s"$storeDir/batch=$b")
      val dst = GenStore.genDir(storeDir, newGen)
      for ((sub, partBy) <- Seq(("sigs", Some("sb")), ("docs", None), ("decisions", None)))
        readSub(spark, storeDir, parts, sub).foreach { df =>
          val w = df.write.mode("overwrite")
          partBy.fold(w)(c => w.partitionBy(c)).parquet(s"$dst/$sub")
        }
      GenStore.commitManifest(spark, storeDir, newGen, live.max)
    }
    GenStore.cleanup(spark, storeDir)
  }
}
