package graft

import org.apache.spark.sql.functions._

import graft.flows.TrainingPrep
import graft.streaming.{ContinuousTrainingPrep, IncrementalPack}

/** End-to-end training-data path, batch → streaming continuation: the
  * corpus prepared incrementally (dedup-against-history, fixed-eval-set
  * decontamination, shared per-row stages, offset-continued packing)
  * must equal the one-shot TrainingPrep.run over the same documents —
  * including when the stream is killed and restarted mid-corpus, and
  * when a micro-batch is crash-replayed.
  */
class ContinuousTrainingPrepSpec extends SparkSuite {

  private val cfg = TrainingPrep.Config(
    stop = Seq("the", "a", "of", "and", "to"),
    rates = Map("web" -> 0.8, "wiki" -> 1.0),
    defaultRate = 0.9,
    packCap = 64)

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "source", "text")

  private def evalDocs = docs
    .filter(col("doc_id") % cfg.evalModulus === 0).select("doc_id", "text")

  private val outCols = Seq("doc_id", "pack_id", "n_pack_tokens", "offset_in_pack")

  private def assertSameAsBatch(outDir: String): Unit = {
    val streamed = spark.read.parquet(outDir).select(outCols.head, outCols.tail: _*)
    val oneShot = TrainingPrep.run(docs, cfg).select(outCols.head, outCols.tail: _*)
    assert(streamed.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(streamed).count() == 0)
  }

  test("incremental prep over doc_id-ordered slices equals the one-shot run") {
    val out = GraftSession.scratchDir("ctp_out").toString
    val state = GraftSession.scratchDir("ctp_state").toString
    val slices = Seq(
      docs.filter(col("doc_id") < 120),
      docs.filter(col("doc_id") >= 120 && col("doc_id") < 300),
      docs.filter(col("doc_id") >= 300))
    slices.zipWithIndex.foreach { case (s, i) =>
      ContinuousTrainingPrep.processBatch(s, i, evalDocs, cfg, out, state)
    }
    assertSameAsBatch(out)
  }

  test("cross-batch dedup drops a document first seen in an earlier batch") {
    val out = GraftSession.scratchDir("ctp_out2").toString
    val state = GraftSession.scratchDir("ctp_state2").toString
    val base = docs.filter(col("doc_id") < 100)
    // batch 1 re-sends batch 0's text under fresh ids — every row must dedup away
    val dupes = base.withColumn("doc_id", col("doc_id") + 1000000)
    ContinuousTrainingPrep.processBatch(base, 0, evalDocs, cfg, out, state)
    ContinuousTrainingPrep.processBatch(dupes, 1, evalDocs, cfg, out, state)
    // read with the committed schema: an all-duplicate batch may write
    // zero part files, which schema inference cannot handle
    val schema = spark.read.parquet(s"$out/batch=0").schema
    val b1 = spark.read.schema(schema).parquet(s"$out/batch=1")
    assert(b1.count() == 0, "duplicate-only batch should pack nothing")
    // and the carry is unchanged by the empty batch
    assert(IncrementalPack.readCarry(state, 2) == IncrementalPack.readCarry(state, 1))
  }

  test("a crash-replayed batch rewrites identical output and state") {
    val out = GraftSession.scratchDir("ctp_out3").toString
    val state = GraftSession.scratchDir("ctp_state3").toString
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200)
    ContinuousTrainingPrep.processBatch(b0, 0, evalDocs, cfg, out, state)
    ContinuousTrainingPrep.processBatch(b1, 1, evalDocs, cfg, out, state)
    val before = spark.read.parquet(out).collect().toSet
    val carryBefore = IncrementalPack.readCarry(state, 2)
    ContinuousTrainingPrep.processBatch(b1, 1, evalDocs, cfg, out, state)
    assert(spark.read.parquet(out).collect().toSet == before)
    assert(IncrementalPack.readCarry(state, 2) == carryBefore)
  }

  test("the wired stream survives a mid-corpus restart and matches the batch run") {
    val src = GraftSession.scratchDir("ctp_src").toString
    val out = GraftSession.scratchDir("ctp_out4").toString
    val state = GraftSession.scratchDir("ctp_state4").toString
    val ckpt = GraftSession.scratchDir("ctp_ckpt").toString
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    // first half ingested, then the query is STOPPED (simulated crash)
    docs.filter(col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    val q1 = ContinuousTrainingPrep.start(stream(), evalDocs, cfg, out, state, ckpt)
    try q1.processAllAvailable() finally q1.stop()

    // second half lands while the pipeline is down; a NEW query on the
    // same checkpoint + file-backed state picks up exactly where the
    // first left off
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    val q2 = ContinuousTrainingPrep.start(stream(), evalDocs, cfg, out, state, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    assertSameAsBatch(out)
  }
}
