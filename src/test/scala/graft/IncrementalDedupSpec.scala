package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{DedupOps, TextOps}
import graft.streaming.IncrementalDedup

/** Streaming admission must be (a) near-dup-free across the whole
  * admitted set no matter how arrival order slices the corpus,
  * (b) replay-idempotent, and (c) history-pruned on disk (the batch's
  * signature-bucket set prunes the store scan's partitions).
  */
class IncrementalDedupSpec extends SparkSuite {

  private val cfg = IncrementalDedup.Config(bands = 4, rowsPerBand = 2,
    tau = 0.5, sigBuckets = 16)

  /** documents with 3-gram shingles, plus PLANTED near-dups: for a few
    * source docs a copy with one token dropped (same-batch and
    * cross-batch dup pressure at ids source+100000).
    */
  private def docs: DataFrame = {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TextOps.ngramsAll(TextOps.tokenize(col("text")), 3).as("sh"))
    val copies = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        TextOps.ngramsAll(slice(TextOps.tokenize(col("text")), 2, 100000), 3).as("sh"))
    base.unionByName(copies)
  }

  private def img(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  test("admission is near-dup-free, replay-idempotent, and dup_of points at admitted docs") {
    val store = GraftSession.scratchDir("inc_dedup").toString
    val d = docs.cache()
    val slices = Seq(
      d.filter(col("doc_id") % 3 === 0),
      d.filter(col("doc_id") % 3 === 1),
      d.filter(col("doc_id") % 3 === 2))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", store, cfg)
    }
    val before = img(IncrementalDedup.decisions(spark, store))
    // crash-replay the last batch: identical store afterwards
    IncrementalDedup.processBatch(slices.last, slices.size - 1, "doc_id", "sh", store, cfg)
    assert(img(IncrementalDedup.decisions(spark, store)) == before)

    val dec = IncrementalDedup.decisions(spark, store).cache()
    // every input doc got exactly one decision
    assert(dec.count() == d.count())
    assert(dec.select("id").distinct().count() == dec.count())
    // planted copies were caught (the 1-token-shorter copy shares almost
    // all 3-grams with its source → Jaccard >> 0.5)
    val planted = dec.filter(col("id") >= 100000L)
    assert(planted.filter(!col("admitted")).count() > 0,
      "no planted near-dup was rejected")
    // dup_of always references an ADMITTED doc (canonical representative)
    val admittedIds = dec.filter(col("admitted")).select(col("id").as("dup_of"))
    assert(dec.filter(!col("admitted")).join(admittedIds, Seq("dup_of"), "left_anti")
      .count() == 0, "a rejection points at a non-admitted dup_of")

    // THE invariant: no banded-candidate pair among admitted docs
    // verifies at or above tau (same bands/rows as the admission ran)
    val adm = IncrementalDedup.admitted(spark, store)
    graft.engine.expressions.MinHashBands.register(spark)
    val sigs = adm.select(col("id"),
      posexplode(graft.engine.expressions.MinHashBands.bandSignatures(
        transform(col("sh"), x => x.cast("string")), cfg.bands, cfg.rowsPerBand))
        .as(Seq("band", "sig")))
    // NOTE: admitted stores xxhash64'd elements; re-deriving signatures
    // from their string images is a DIFFERENT banding than admission used,
    // so this checks a fresh, independent candidate generation too.
    val cand = sigs.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(sigs.select(col("band"), col("sig"), col("id").as("id_b")), Seq("band", "sig"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val offenders = cand
      .join(adm.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(adm.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(DedupOps.jaccard(col("sh_a"), col("sh_b")) >= cfg.tau)
    assert(offenders.count() == 0, "admitted set contains a verified near-dup pair")
    dec.unpersist(); d.unpersist()
  }

  test("arrival order does not admit a near-dup pair (adversarial slicing)") {
    val store = GraftSession.scratchDir("inc_dedup_order").toString
    val d = docs.cache()
    // put every planted copy FIRST, sources later — the copy becomes the
    // admitted representative and the source must then be rejected
    val slices = Seq(d.filter(col("doc_id") >= 100000L), d.filter(col("doc_id") < 100000L))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", store, cfg)
    }
    val dec = IncrementalDedup.decisions(spark, store)
    // copies arrived first into an empty store → all admitted (no
    // history, and distinct sources rarely collide with each other)
    val rejectedSources = dec.filter(!col("admitted") && col("id") < 100000L)
    assert(rejectedSources.count() > 0,
      "source docs arriving after their copies were not screened out")
    // rejected sources point at their cross-batch representative
    assert(rejectedSources.filter(col("dup_of") >= 100000L).count() > 0)
    d.unpersist()
  }

  test("the live streaming wiring produces the same store as direct batches", SlowTest) {
    val d = docs.cache()
    val slices = Seq(
      d.filter(col("doc_id") % 3 === 0),
      d.filter(col("doc_id") % 3 === 1),
      d.filter(col("doc_id") % 3 === 2))
    // direct-batch reference store
    val direct = GraftSession.scratchDir("inc_dedup_direct").toString
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", direct, cfg)
    }
    // stage each slice as one file; maxFilesPerTrigger=1 makes each file
    // one micro-batch through the real foreachBatch path
    val srcDir = GraftSession.scratchDir("inc_dedup_src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = GraftSession.scratchDir("inc_dedup_stage")
      s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, srcDir.resolve(f"slice$i%02d.parquet"))
    }
    val live = GraftSession.scratchDir("inc_dedup_live").toString
    val ckpt = GraftSession.scratchDir("inc_dedup_ckpt").toString
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = IncrementalDedup.start(stream, "doc_id", "sh", live, ckpt, cfg)
    try q.processAllAvailable() finally q.stop()
    assert(img(IncrementalDedup.decisions(spark, live)) ==
      img(IncrementalDedup.decisions(spark, direct)))
    d.unpersist()
  }

  test("auto-compaction mid-stream: triggered folds preserve every admission decision", SlowTest) {
    val d = docs.cache()
    val nSlices = 5
    val slices = (0 until nSlices).map(i => d.filter(col("doc_id") % nSlices === i))
    // never-compacted direct-batch reference
    val direct = GraftSession.scratchDir("inc_dedup_ac_direct").toString
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", direct, cfg)
    }
    val srcDir = GraftSession.scratchDir("inc_dedup_ac_src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = GraftSession.scratchDir("inc_dedup_ac_stage")
      s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, srcDir.resolve(f"slice$i%02d.parquet"))
    }
    val live = GraftSession.scratchDir("inc_dedup_ac_live").toString
    val ckpt = GraftSession.scratchDir("inc_dedup_ac_ckpt").toString
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = IncrementalDedup.start(stream, "doc_id", "sh", live, ckpt, cfg,
      autoCompactEvery = 2)
    try q.processAllAvailable() finally q.stop()
    // compaction really fired mid-stream (a committed generation
    // manifest exists, and the last batch is still live — folding it
    // would have raced its checkpoint commit)...
    val manifests = Files.list(java.nio.file.Paths.get(live, "_compacted"))
      .filter(_.getFileName.toString.endsWith(".manifest.json")).count()
    assert(manifests > 0, "auto-compaction never fired")
    assert(Files.exists(java.nio.file.Paths.get(live, s"batch=${nSlices - 1}")))
    // ...and the admission history is byte-identical to the
    // never-compacted run
    assert(img(IncrementalDedup.decisions(spark, live)) ==
      img(IncrementalDedup.decisions(spark, direct)))
    assert(img(IncrementalDedup.admitted(spark, live)) ==
      img(IncrementalDedup.admitted(spark, direct)))
    d.unpersist()
  }

  test("compaction: decisions identical, dirs folded, replay-after-fold fails fast") {
    val store = GraftSession.scratchDir("inc_dedup_compact").toString
    val d = docs.cache()
    val slices = Seq(
      d.filter(col("doc_id") % 3 === 0),
      d.filter(col("doc_id") % 3 === 1),
      d.filter(col("doc_id") % 3 === 2))
    def fs = new java.io.File(store)
    def batchDirs = fs.listFiles().count(_.getName.startsWith("batch="))

    // batches 0-1 → compact → gen folds both, dirs deleted, reads equal
    slices.take(2).zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", store, cfg)
    }
    val before = (img(IncrementalDedup.decisions(spark, store)),
      img(IncrementalDedup.admitted(spark, store)))
    IncrementalDedup.compact(spark, store)
    assert(batchDirs == 0, "folded batch dirs must be deleted")
    assert((img(IncrementalDedup.decisions(spark, store)),
      img(IncrementalDedup.admitted(spark, store))) == before,
      "store reads changed across compaction")

    // batch 2 on top of the generation: history = gen + nothing live,
    // and the result equals the never-compacted 3-batch store
    IncrementalDedup.processBatch(slices(2), 2, "doc_id", "sh", store, cfg)
    val direct = GraftSession.scratchDir("inc_dedup_nocompact").toString
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalDedup.processBatch(s, i, "doc_id", "sh", direct, cfg)
    }
    assert(img(IncrementalDedup.decisions(spark, store)) ==
      img(IncrementalDedup.decisions(spark, direct)),
      "compacted history screens differently than raw batch history")

    // replaying a batch the generation already folded must fail fast,
    // not silently self-screen
    val ex = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(slices(1), 1, "doc_id", "sh", store, cfg)
    }
    assert(ex.getMessage.contains("folded"))
    d.unpersist()
  }

  test("history scan prunes to the batch's signature buckets") {
    val store = GraftSession.scratchDir("inc_dedup_prune").toString
    val d = docs.cache()
    IncrementalDedup.processBatch(d.filter(col("doc_id") % 2 === 0), 0,
      "doc_id", "sh", store, cfg)
    // the sigs store is hive-partitioned by sb
    val part = new java.io.File(s"$store/batch=0/sigs").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(part.nonEmpty && part.forall(_.startsWith("sb=")))
    // and a filtered read plans partition filters, not a full scan
    val one = spark.read.parquet(s"$store/batch=0/sigs").filter(col("sb") === 3)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(sb"),
      s"no partition filter on the sigs scan:\n$plan")
    d.unpersist()
  }
}
