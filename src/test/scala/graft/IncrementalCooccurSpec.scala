package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.IncrementalCooccur

/** The incrementally maintained co-occurrence store must equal the
  * one-shot q157 computation over the union of everything that arrived —
  * including when a batch is crash-replayed — given order-atomic
  * delivery (each order wholly inside one micro-batch).
  */
class IncrementalCooccurSpec extends SparkSuite {

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select("l_orderkey", "l_partkey")

  // order-atomic slices: split by order-key ranges, never mid-order
  private def slices = {
    val cuts = li.stat.approxQuantile("l_orderkey", Array(0.33, 0.66), 0.0)
    Seq(
      li.filter(col("l_orderkey") <= cuts(0)),
      li.filter(col("l_orderkey") > cuts(0) && col("l_orderkey") <= cuts(1)),
      li.filter(col("l_orderkey") > cuts(1)))
  }

  test("incremental store over order-atomic batches equals the one-shot q157") {
    val storeDir = GraftSession.scratchDir("graft_cooccur").toString
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalCooccur.processBatch(s, i, storeDir)
    }
    val (pairs, parts, meta) = IncrementalCooccur.readStore(spark, storeDir, 3)
    val streamed = IncrementalCooccur.neighbors(pairs, parts, meta, 5)
      .collect().map(_.toSeq).toSet
    val oneShot = SparkEntry.queries("q157_item_cooccurrence")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
  }

  test("a crash-replayed batch rewrites an identical store version") {
    val storeDir = GraftSession.scratchDir("graft_cooccur_rp").toString
    val ss = slices
    ss.zipWithIndex.foreach { case (s, i) =>
      IncrementalCooccur.processBatch(s, i, storeDir)
    }
    def snapshot() = {
      val (p, c, m) = IncrementalCooccur.readStore(spark, storeDir, 3)
      (p.collect().map(_.toSeq).toSet, c.collect().map(_.toSeq).toSet,
        m.collect().map(_.toSeq).toSet)
    }
    val before = snapshot()
    // replay the LAST batch (the crash-recovery path): derived only from
    // v=1 and the batch data, so the rewrite must be value-identical
    IncrementalCooccur.processBatch(ss(2), 2, storeDir)
    assert(snapshot() === before)
  }

  test("missing predecessor store version fails fast") {
    val storeDir = GraftSession.scratchDir("graft_cooccur_ff").toString
    intercept[IllegalStateException] {
      IncrementalCooccur.processBatch(slices.head, 1, storeDir)
    }
  }

  test("the live streaming wiring maintains the same store as direct batches") {
    // stage each order-atomic slice as one file; maxFilesPerTrigger=1
    // makes each file one micro-batch through the real foreachBatch path
    val srcDir = GraftSession.scratchDir("graft_cooccur_src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = GraftSession.scratchDir("graft_cooccur_stage")
      s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, srcDir.resolve(f"slice$i%02d.parquet"))
    }
    val storeDir = GraftSession.scratchDir("graft_cooccur_live").toString
    val ckpt = GraftSession.scratchDir("graft_cooccur_ckpt").toString
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = IncrementalCooccur.start(stream, storeDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val (pairs, parts, meta) = IncrementalCooccur.readStore(spark, storeDir, 3)
    val streamed = IncrementalCooccur.neighbors(pairs, parts, meta, 5)
      .collect().map(_.toSeq).toSet
    val oneShot = SparkEntry.queries("q157_item_cooccurrence")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === oneShot)
  }
}
