package graft

import org.apache.spark.sql.functions._

import graft.llm.{Bm25, TextOps}
import graft.streaming.IncrementalIndex

/** The streaming inverted index must be indistinguishable from batch
  * scoring: BM25 probes over an incrementally-built (and
  * crash-replayed, and compacted) index equal [[Bm25.topK]] over the
  * full corpus, and the probe scan prunes to the query terms' bucket
  * partitions on disk.
  */
class IncrementalIndexSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def img(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.select("doc_id", "dl", "score", "rnk")
      .collect().toSeq.map(_.toSeq).sortBy(_.toString)

  test("incrementally built index probes identically to batch BM25; replay and compaction preserve it") {
    val root = GraftSession.scratchDir("inv_idx").toString
    val slices = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalIndex.processBatch(s, i.toLong, "doc_id", "text", root)
    }
    // crash-replay: re-running a batch overwrites its own directories
    IncrementalIndex.processBatch(slices(1), 1L, "doc_id", "text", root)

    // frequent terms so well over k docs match (the probe ranks only
    // docs CONTAINING a term — score-0 docs are invisible to an
    // inverted index and irrelevant to retrieval)
    val terms = Seq("the", "data", "model")
    val viaIndex = IncrementalIndex.probe(spark, root, terms, k = 10)
    val viaBatch = Bm25.topK(
      docs.select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
      "doc_id", "toks", terms, k = 10)
    assert(img(viaIndex) == img(viaBatch),
      "streaming index diverged from the batch scorer")

    // compaction folds both sub-stores without changing a probe row
    IncrementalIndex.compact(spark, root)
    assert(!new java.io.File(s"$root/postings/batch=0").exists())
    assert(!new java.io.File(s"$root/stats/batch=0").exists())
    assert(img(IncrementalIndex.probe(spark, root, terms, k = 10)) ==
      img(viaBatch), "compaction changed probe results")

    // ingestion continues after compaction; new docs surface
    val extra = Seq((900001L, "zzzuniqueterm zzzuniqueterm data"))
    val session = spark
    import session.implicits._
    IncrementalIndex.processBatch(extra.toDF("doc_id", "text"), 3L,
      "doc_id", "text", root)
    val hit = IncrementalIndex.probe(spark, root, Seq("zzzuniqueterm"), k = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(hit == Seq(900001L))
  }

  test("the probe scan prunes to the query terms' bucket partitions") {
    val root = GraftSession.scratchDir("inv_prune").toString
    IncrementalIndex.processBatch(docs, 0L, "doc_id", "text", root)
    val probe = IncrementalIndex.probe(spark, root, Seq("data"), k = 5)
    probe.collect()
    val p = probe.queryExecution.executedPlan.toString
    // the bucket filter must reach the scan as a PartitionFilter —
    // directory pruning, not a post-scan filter over all buckets
    assert(p.contains("PartitionFilters") && p.contains("bucket"),
      s"no bucket partition pruning in probe plan:\n${p.take(3000)}")
  }
}
