package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.llm.SimSearch
import graft.streaming.IncrementalIvf

/** The streaming IVF index must be indistinguishable from batch
  * bucketing: probes over an incrementally-built (and crash-replayed)
  * index equal [[SimSearch.ivfTopK]] over the full corpus with the same
  * frozen centroids, and the probe scan prunes to the probed buckets'
  * partitions on disk.
  */
class IncrementalIvfSpec extends SparkSuite {

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def queries = emb.filter(col("vec_id") % 50 === 0)

  private val (k, nCents, nProbe) = (10, 16, 4)

  private def cents = SimSearch.seedCentroids(emb, "vec_id", "embedding", nCents)

  /** Deterministic row-set image (exceptAll trips a Spark internal
    * attribute-resolution error over these window-bearing plans).
    */
  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val cols = Seq("query_id", "vec_id", "cos_sim", "rnk")
    df.select(cols.head, cols.tail: _*)
      .collect().toSeq.map(_.toSeq).sortBy(_.toString)
  }

  test("incrementally built index probes identically to the batch path") {
    val dir = GraftSession.scratchDir("ivf_idx").toString
    val c = cents.cache()
    val slices = Seq(
      emb.filter(col("vec_id") < 600),
      emb.filter(col("vec_id") >= 600 && col("vec_id") < 1300),
      emb.filter(col("vec_id") >= 1300))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalIvf.processBatch(s, i, c, "vec_id", "embedding", dir)
    }
    // crash-replay the last batch: same directory rewritten, no dupes
    IncrementalIvf.processBatch(slices.last, slices.size - 1, c,
      "vec_id", "embedding", dir)

    val streamed = IncrementalIvf
      .probe(spark, dir, queries, c, "vec_id", "embedding", k, nProbe)
    val batch = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", k, nCents, nProbe)
    assert(sorted(streamed) == sorted(batch))
    c.unpersist()
  }

  test("the probe scan prunes to the probed bucket partitions") {
    val dir = GraftSession.scratchDir("ivf_idx2").toString
    val c = cents.cache()
    IncrementalIvf.processBatch(emb, 0, c, "vec_id", "embedding", dir)
    val one = queries.limit(1)
    val probed = IncrementalIvf.probe(spark, dir, one, c, "vec_id", "embedding", k, nProbe)
    probed.collect()
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:") && scan.contains("bucket"),
      s"probe scan lost its partition pruning:\n${scan.take(3000)}")
    c.unpersist()
  }

  test("auto-compaction mid-stream: triggered folds preserve probe results") {
    val c = cents.cache()
    val nSlices = 5
    val slices = (0 until nSlices).map(i => emb.filter(col("vec_id") % nSlices === i))
    val srcDir = GraftSession.scratchDir("ivf_ac_src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = GraftSession.scratchDir("ivf_ac_stage")
      s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, srcDir.resolve(f"slice$i%02d.parquet"))
    }
    val dir = GraftSession.scratchDir("ivf_ac_idx").toString
    val ckpt = GraftSession.scratchDir("ivf_ac_ckpt").toString
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = IncrementalIvf.start(stream, c, "vec_id", "embedding", dir, ckpt,
      autoCompactEvery = 2)
    try q.processAllAvailable() finally q.stop()
    // a generation committed mid-stream; the last batch stayed live
    assert(IncrementalIvf.latestCompaction(spark, dir).nonEmpty,
      "auto-compaction never fired")
    assert(Files.exists(java.nio.file.Paths.get(dir, s"batch=${nSlices - 1}")))
    // probes over the auto-compacted index == the batch path
    val streamed = IncrementalIvf
      .probe(spark, dir, queries, c, "vec_id", "embedding", k, nProbe)
    val batch = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", k, nCents, nProbe)
    assert(sorted(streamed) == sorted(batch))
    c.unpersist()
  }

  test("compaction: probes identical, batch dirs folded, crash-restart exactly-once") {
    val dir = GraftSession.scratchDir("ivf_idx4").toString
    val c = cents.cache()
    // sf0.001 has vec_ids 0-499; all four slices are non-empty
    val slices = Seq(
      emb.filter(col("vec_id") < 150),
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 300),
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      emb.filter(col("vec_id") >= 400))
    def probeNow() = sorted(IncrementalIvf
      .probe(spark, dir, queries, c, "vec_id", "embedding", k, nProbe))
    def fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).count(_.startsWith("batch="))

    // batches 0-1 → compact → gen 1 folds both, dirs deleted, probes equal
    slices.take(2).zipWithIndex.foreach { case (s, i) =>
      IncrementalIvf.processBatch(s, i, c, "vec_id", "embedding", dir)
    }
    val before = probeNow()
    IncrementalIvf.compact(spark, dir)
    assert(IncrementalIvf.latestCompaction(spark, dir).contains((1L, 1L)))
    assert(batchDirs == 0, "folded batch dirs must be deleted")
    assert(probeNow() == before, "probe changed across compaction")

    // live batches after a compaction are read alongside the generation
    IncrementalIvf.processBatch(slices(2), 2, c, "vec_id", "embedding", dir)
    IncrementalIvf.processBatch(slices(3), 3, c, "vec_id", "embedding", dir)
    val full = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", k, nCents, nProbe)
    assert(probeNow() == sorted(full), "gen + live batches != batch path")

    // crash BEFORE the manifest commit: a partial generation directory
    // with no manifest is invisible to readers and overwritten on re-run
    val partial = s"$dir/_compacted/v=2"
    spark.range(1).write.mode("overwrite").parquet(s"$partial/bucket=0")
    assert(IncrementalIvf.latestCompaction(spark, dir).contains((1L, 1L)),
      "uncommitted generation must stay invisible")
    assert(probeNow() == sorted(full))
    IncrementalIvf.compact(spark, dir)
    assert(IncrementalIvf.latestCompaction(spark, dir).contains((2L, 3L)))
    assert(batchDirs == 0)
    assert(probeNow() == sorted(full), "restart mid-compaction changed the index")

    // crash AFTER the manifest, before cleanup: re-run only re-deletes
    IncrementalIvf.processBatch(slices(3), 99, c, "vec_id", "embedding", dir)
    IncrementalIvf.compact(spark, dir)           // folds batch 99 → gen 3
    IncrementalIvf.processBatch(slices(3), 99, c, "vec_id", "embedding", dir)
    // simulate: batch=99 re-appeared (as if deletes hadn't landed) while
    // the gen-3 manifest says it is folded — readers must exclude it
    assert(IncrementalIvf.latestCompaction(spark, dir).exists(_._2 == 99L))
    IncrementalIvf.compact(spark, dir)           // idempotent cleanup only
    assert(batchDirs == 0)
    assert(IncrementalIvf.latestCompaction(spark, dir).exists(_._1 == 3L),
      "cleanup-only re-run must not mint a new generation")
    c.unpersist()
  }

  test("the wired stream builds the same index as direct batch calls") {
    val src = GraftSession.scratchDir("ivf_src").toString
    val dir = GraftSession.scratchDir("ivf_idx3").toString
    val ckpt = GraftSession.scratchDir("ivf_ckpt").toString
    val c = cents.cache()
    emb.coalesce(1).write.mode("append").parquet(src)
    val q = IncrementalIvf.start(
      spark.readStream.schema(emb.schema).parquet(src),
      c, "vec_id", "embedding", dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = IncrementalIvf
      .probe(spark, dir, queries, c, "vec_id", "embedding", k, nProbe)
    val batch = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", k, nCents, nProbe)
    assert(sorted(streamed) == sorted(batch))
    c.unpersist()
  }

  test("centroid refresh: objective never degrades, probes stay batch-consistent, ingestion continues") {
    val dir = GraftSession.scratchDir("ivf_idx4").toString
    val c = cents.cache()
    val early = emb.filter(col("vec_id") % 4 =!= 3)
    val late = emb.filter(col("vec_id") % 4 === 3)
    IncrementalIvf.processBatch(early, 0, c, "vec_id", "embedding", dir)
    // spherical k-means objective: mean best-cosine over the corpus
    def objective(cs: org.apache.spark.sql.DataFrame, corpus: org.apache.spark.sql.DataFrame) = {
      val u = SimSearch.bruteForceTopK(cs.select(col("cent_id").as("vec_id"),
          col("cent_emb").as("embedding")), corpus, "vec_id", "embedding", 1)
      u.agg(avg(col("cos_sim"))).head.getDouble(0)
    }
    val before = objective(c, early)
    assert(IncrementalIvf.latestCentroids(spark, dir).isEmpty)
    val refreshed = IncrementalIvf.refresh(spark, dir, "vec_id", iters = 2)
    val after = objective(refreshed, early)
    assert(after >= before - 1e-9, s"refresh degraded objective: $before -> $after")
    // versioned centroids committed with the generation
    val stored = IncrementalIvf.latestCentroids(spark, dir)
    assert(stored.nonEmpty && stored.get.count() == refreshed.count())
    // probe over the rebuilt index == batch assignment with the SAME centroids
    val streamed = IncrementalIvf.probe(spark, dir, queries, refreshed,
      "vec_id", "embedding", k, nProbe)
    val cEarly = SimSearch.unitized(early, "vec_id", "embedding", "vec_id", "__ne")
    val batch = {
      val qs = SimSearch.unitized(queries, "vec_id", "embedding", "query_id", "__qe")
      val probed = SimSearch.nearestBuckets(qs, refreshed, "query_id", "__qe", nProbe)
      val bucketed = SimSearch.nearestBuckets(cEarly, refreshed, "vec_id", "__ne", 1)
      SimSearch.probeRank(probed, bucketed, "vec_id", k)
    }
    assert(sorted(streamed) == sorted(batch))
    // ingestion continues against the refreshed centroids even when the
    // caller still holds the STALE pre-refresh frame: processBatch
    // resolves the committed `v=G.centroids` itself
    IncrementalIvf.processBatch(late, 1, c, "vec_id", "embedding", dir)
    val all = IncrementalIvf.probe(spark, dir, queries, refreshed,
      "vec_id", "embedding", k, nProbe)
    val ids = IncrementalIvf.readIndex(spark, dir).select("vec_id").distinct().count()
    assert(ids == emb.count())
    assert(all.count() >= streamed.count())
    // the post-refresh incremental index is bucket-identical to batch
    // assignment of the full corpus under the refreshed centroids
    val cAll = SimSearch.unitized(emb, "vec_id", "embedding", "vec_id", "__ne")
    val fullBatch = {
      val qs = SimSearch.unitized(queries, "vec_id", "embedding", "query_id", "__qe")
      val probed = SimSearch.nearestBuckets(qs, refreshed, "query_id", "__qe", nProbe)
      val bucketed = SimSearch.nearestBuckets(cAll, refreshed, "vec_id", "__ne", 1)
      SimSearch.probeRank(probed, bucketed, "vec_id", k)
    }
    assert(sorted(all) == sorted(fullBatch))
    // a plain compact() carries the refreshed centroids to the new
    // generation (cleanup deletes the superseded one wholesale)
    IncrementalIvf.compact(spark, dir)
    val carried = IncrementalIvf.latestCentroids(spark, dir)
    assert(carried.nonEmpty && carried.get.count() == refreshed.count())
    val afterCompact = IncrementalIvf.probe(spark, dir, queries, refreshed,
      "vec_id", "embedding", k, nProbe)
    assert(sorted(afterCompact) == sorted(fullBatch))
    c.unpersist()
  }
}
