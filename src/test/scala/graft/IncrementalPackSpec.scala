package graft

import org.apache.spark.sql.functions._

import graft.ops.PrefixSum
import graft.streaming.IncrementalPack

/** The streaming packer must produce EXACTLY the batch q108 layout when
  * fed the same documents in the same order, continue across restarts
  * (carry read from files, not memory), and rewrite — not duplicate —
  * a replayed micro-batch.
  */
class IncrementalPackSpec extends SparkSuite {

  private val Cap = 64

  private def batchPack(docs: org.apache.spark.sql.DataFrame) = {
    val counts = docs.select(col("doc_id"),
      size(graft.llm.TextOps.tokenize(col("text"))).cast("long").as("n"))
    IncrementalPack.packBatch(counts, 0L, Cap)._1
  }

  test("incremental batches reproduce the one-shot packing exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id")
    val out = GraftSession.scratchDir("ipack_out").toString
    val state = GraftSession.scratchDir("ipack_state").toString
    // three doc_id-ordered slices arriving as micro-batches 0..2
    val slices = Seq(
      docs.filter(col("doc_id") < 150),
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 350),
      docs.filter(col("doc_id") >= 350))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalPack.processBatch(s, i, out, state, Cap)
    }
    val streamed = spark.read.parquet(out)
      .select("doc_id", "pack_id", "n_pack_tokens", "offset_in_pack")
    val oneShot = batchPack(docs)
    assert(streamed.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(streamed).count() == 0)
    // the carry files record the cumulative token counts
    val totalTokens = docs.agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(IncrementalPack.readCarry(state, 3) == totalTokens)
  }

  test("a replayed micro-batch rewrites its output instead of appending") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val out = GraftSession.scratchDir("ipack_out2").toString
    val state = GraftSession.scratchDir("ipack_state2").toString
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200)
    IncrementalPack.processBatch(b0, 0, out, state, Cap)
    IncrementalPack.processBatch(b1, 1, out, state, Cap)
    val before = spark.read.parquet(out).collect().toSet
    val carryBefore = IncrementalPack.readCarry(state, 2)
    // crash-replay of batch 1: same input, same carry-in from offset-0
    IncrementalPack.processBatch(b1, 1, out, state, Cap)
    assert(spark.read.parquet(out).collect().toSet == before)
    assert(IncrementalPack.readCarry(state, 2) == carryBefore)
  }

  test("the wired stream packs a growing directory end-to-end") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val src = GraftSession.scratchDir("ipack_src").toString
    val out = GraftSession.scratchDir("ipack_out3").toString
    val state = GraftSession.scratchDir("ipack_state3").toString
    val ckpt = GraftSession.scratchDir("ipack_ckpt").toString
    docs.filter(col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = IncrementalPack.start(stream, out, state, ckpt, Cap)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "pack_id", "n_pack_tokens", "offset_in_pack")
    // same global layout as the one-shot pack of everything ingested
    val oneShot = batchPack(docs)
    assert(streamed.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(streamed).count() == 0)
  }
}
