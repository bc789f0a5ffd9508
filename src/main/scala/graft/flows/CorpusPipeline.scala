package graft.flows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{DedupOps, TextOps}
import graft.ops.{ConnectedComponents, Dedup, Sampling}

/** The training-corpus preparation pipeline, end to end — the composition
  * a 100 TB pretraining-data job runs, assembled entirely from the
  * engine's operators:
  *
  *  1. quality filter    — blended heuristic score (TextOps.qualityScore)
  *  2. exact dedup       — md5 fingerprint, min-id representative
  *  3. near-dup dedup    — MinHash-LSH candidates -> exact Jaccard ->
  *                         connected components -> min-id representative
  *  4. split assignment  — deterministic hash split (pure function of the
  *                         data, reproducible across partitionings)
  *
  * Every stage is a narrow projection or an LSH-bounded shuffle; nothing
  * is quadratic in the corpus and nothing collects to the driver (the
  * component loop's per-round reduction is a scalar convergence witness).
  */
object CorpusPipeline {

  case class Config(stop: Seq[String], minQuality: Double = 0.8,
                    minJaccard: Double = 0.5, trainFraction: Double = 0.9)

  /** Typed row of the pipeline output (SURVEY §1.1: Dataset[T] views
    * where compile-time safety helps downstream consumers).
    */
  case class CorpusDoc(doc_id: Long, lang: String, n_tokens: Int,
                       quality: Double, split: String)

  /** @param docs (doc_id, lang, text) corpus frame
    * @return surviving docs: (doc_id, lang, n_tokens, quality, split)
    */
  def run(docs: DataFrame, cfg: Config): DataFrame = {
    val toks = TextOps.tokenize(col("text"))
    // 1. quality
    val scored = docs.select(col("doc_id"), col("lang"), col("text"),
      size(toks).as("n_tokens"),
      TextOps.qualityScore(toks, cfg.stop).as("quality"))
    val kept1 = scored.filter(col("quality") >= cfg.minQuality)
    // 2. exact dedup (16-byte fingerprints shuffle, never documents)
    val kept2 = Dedup.firstPerKey(kept1.withColumn("__fp", md5(col("text"))),
      Seq("__fp"), Seq(col("doc_id").asc)).drop("__fp")
    // 3. near-dup dedup: LSH pairs -> strong edges -> components
    val shingled = kept2.select(col("doc_id"),
      TextOps.shingles(TextOps.tokenize(col("text")), 2).as("sh"))
    val strong = DedupOps.lshCandidates(shingled, "doc_id", "sh")
      .filter(col("jaccard") >= cfg.minJaccard)
    val deduped = ConnectedComponents.dedupByComponents(
      kept2, "doc_id", strong, "id_a", "id_b")
    // 4. deterministic split. Quality is NOT rounded: the score chain is
    // IEEE-identical across engines, while fixed-precision rounding can
    // disagree at exact half-boundaries (see q28's note).
    deduped.select(col("doc_id"), col("lang"), col("n_tokens"),
      col("quality"),
      when(Sampling.hashUniform(col("doc_id")) < cfg.trainFraction, "train")
        .otherwise("val").as("split"))
  }

  /** The corpus-side canonical composition (dedup → decontaminate →
    * pack in one plan): near-dup
    * clusters → one canonical doc per cluster → decontaminate against
    * the eval holdout → concat-and-chunk pack layout. One oracled flow
    * (q200) over four operators:
    *
    *  1. near-dup clusters — MinHash-LSH candidates (DedupOps), exact
    *     Jaccard ≥ `minJaccard` edges, connected components; canonical
    *     = the min-id member, all other members drop
    *     (ConnectedComponents.dedupByComponents). Runs over the WHOLE
    *     corpus including the holdout, so a train doc whose canonical
    *     representative is an eval doc is dropped too — a near-dup of
    *     the benchmark must never reach the training stream.
    *  2. holdout split — eval docs (doc_id % evalMod == 0, the q109
    *     convention) leave the packable set.
    *  3. decontamination — canonical train docs sharing any word
    *     `gramN`-gram with the RAW eval slice (not just its canonical
    *     survivors — the conservative direction) drop
    *     (Decontaminate.contaminatedIdsAgainst, hashed-gram join).
    *  4. packing — survivors concatenated in doc_id order, cut into
    *     `packCap`-token packs via the distributed two-phase prefix
    *     scan (ops.PrefixSum — no unpartitioned window), emitted as
    *     one (doc, pack) slice per row, the q108 layout.
    *
    * Scale shape: stages are LSH-bounded or linear; the only global
    * coordination is the prefix scan's O(partitions) offset exchange.
    */
  def canonicalPack(docs: DataFrame, minJaccard: Double = 0.5,
                    evalMod: Long = 97, gramN: Int = 3,
                    packCap: Int = 64): DataFrame = {
    val shingled = docs.select(col("doc_id"),
      TextOps.shingles(TextOps.tokenize(col("text")), 2).as("sh"))
    val strong = DedupOps.lshCandidates(shingled, "doc_id", "sh")
      .filter(col("jaccard") >= minJaccard)
    val canon = ConnectedComponents.dedupByComponents(
      docs, "doc_id", strong, "id_a", "id_b")
    val train = canon.filter(col("doc_id") % evalMod =!= 0)
    val evalDocs = docs.filter(col("doc_id") % evalMod === 0)
    val contaminated = graft.llm.Decontaminate.contaminatedIdsAgainst(
      train, evalDocs, "doc_id", "text", gramN)
    val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
    val t = clean.select(col("doc_id"),
        size(TextOps.tokenize(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    graft.ops.PrefixSum.withRunningSum(t, "n", "cb", Seq(col("doc_id")))
      .withColumn("ca", col("cb") + col("n"))
      .select(col("doc_id"), col("cb"), col("ca"),
        explode(sequence(expr(s"cb div $packCap"), expr(s"(ca - 1) div $packCap")))
          .as("pack_id"))
      .select(col("doc_id"),
        col("pack_id").cast("int").as("pack_id"),
        (least(col("ca"), (col("pack_id") + 1) * packCap)
          - greatest(col("cb"), col("pack_id") * packCap)).cast("int").as("n_pack_tokens"),
        (greatest(col("cb"), col("pack_id") * packCap) - col("pack_id") * packCap)
          .cast("int").as("offset_in_pack"))
  }
}
