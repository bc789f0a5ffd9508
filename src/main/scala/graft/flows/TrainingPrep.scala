package graft.flows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Decontaminate, TextOps}
import graft.ops.{Dedup, PrefixSum, Sampling}

/** Sequence-level training-data preparation, end to end — the stages
  * between a curated corpus and the token stream a trainer reads
  * (complements [[CorpusPipeline]], which handles the corpus-level
  * quality/near-dup/split axis):
  *
  *  1. exact dedup       — md5 fingerprint, min-id representative
  *  2. eval holdout      — the benchmark slice never enters training
  *  3. repetition filter — max-token-share / duplicate-bigram gates
  *  4. decontamination   — drop docs sharing any trigram with the eval
  *                         slice (8-byte hashed grams shuffle, not text)
  *  5. domain mixing     — per-source stratified rates (broadcast recipe)
  *  6. normalization     — stopword/short-token scrub, empty docs drop
  *  7. sequence packing  — concat-and-chunk into fixed token windows via
  *                         the distributed prefix scan (ops.PrefixSum)
  *
  * Stages 1–5 are each a pure function of the full input table (they
  * commute), so the plan is one scan feeding independent filter inputs;
  * only the gram join, the fingerprint dedup, and the final scan
  * shuffle — and each moves hashes or counts, never document bodies.
  */
object TrainingPrep {

  case class Config(stop: Seq[String], evalModulus: Int = 97,
                    maxTokenShare: Double = 0.2, maxDupBigramRatio: Double = 0.1,
                    rates: Map[String, Double] = Map.empty,
                    defaultRate: Double = 1.0,
                    minTokenLen: Int = 3, packCap: Int = 64)

  /** Stages 2–6 over an already-deduped frame, given the contaminated-id
    * set: per-row holdout/repetition/mixing/normalization plus the one
    * anti-join.
    *
    * @return (doc_id, n) — normalized kept-token counts, empty docs gone
    */
  private def normalizedCounts(deduped: DataFrame, contaminated: DataFrame,
                       cfg: Config): DataFrame = {
    val toks = TextOps.tokenize(col("text"))

    // 2. eval holdout
    val train = deduped.filter(col("doc_id") % cfg.evalModulus =!= 0)

    // 3. repetition gates (per-row signals, zero shuffle)
    val cleanRep = train
      .withColumn("__n", size(toks))
      .withColumn("__share", TextOps.maxTokenFreq(toks).cast("double") / col("__n"))
      .withColumn("__bi", TextOps.ngramsAll(toks, 2))
      .withColumn("__dup", lit(1.0) - size(array_distinct(col("__bi"))).cast("double")
        / greatest(size(col("__bi")), lit(1)))
      .filter(!(col("__share") > cfg.maxTokenShare || col("__dup") > cfg.maxDupBigramRatio))
      .drop("__n", "__share", "__bi", "__dup")

    // 4. decontamination anti-join (contaminated ids supplied by caller)
    val decontaminated = cleanRep.join(contaminated, Seq("doc_id"), "left_anti")

    // 5. domain mixing (deterministic, partitioning-independent)
    val mixed = Sampling.stratifiedSample(decontaminated, "doc_id", "source",
      cfg.rates, cfg.defaultRate)

    // 6. normalization; docs scrubbed to nothing carry no tokens to pack
    mixed.select(col("doc_id"),
      TextOps.normalizeTokens(TextOps.tokenize(col("text")), cfg.stop, cfg.minTokenLen)
        .as("kept"))
      .select(col("doc_id"), size(col("kept")).cast("long").as("n"))
      .filter(col("n") > 0)
  }

  /** @param docs (doc_id, source, text) corpus frame
    * @return packed slices: (doc_id, pack_id, n_pack_tokens, offset_in_pack)
    */
  def run(docs: DataFrame, cfg: Config): DataFrame = {
    // 1. exact content dedup (min-id representative, 128-bit keys)
    val deduped = Dedup.byFingerprint(docs, Seq("text"), Seq(col("doc_id").asc))

    // 4. decontamination ids: any shared trigram with the eval slice
    // kills the doc (llm.Decontaminate). The Bloom-prefilter path is
    // exercised here — eval grams sketch to a literal filter applied at
    // the corpus gram scan, the exact join kills false positives, and
    // the q109 oracle gates the result against the plain-join SQL
    // semantics.
    val contaminated = Decontaminate.contaminatedIds(docs, "doc_id", "text",
      col("doc_id") % cfg.evalModulus === 0, n = 3, bloomPrefilter = true)

    // 7. concat-and-chunk packing over the global doc_id order
    val cap = cfg.packCap
    PrefixSum.withRunningSum(normalizedCounts(deduped, contaminated, cfg),
        "n", "cb", Seq(col("doc_id")))
      .withColumn("ca", col("cb") + col("n"))
      .select(col("doc_id"),
        explode(sequence(expr(s"cb div $cap"), expr(s"(ca - 1) div $cap"))).as("pack_id"),
        col("cb"), col("ca"))
      .select(col("doc_id"),
        col("pack_id").cast("int").as("pack_id"),
        (least(col("ca"), (col("pack_id") + 1) * cap)
          - greatest(col("cb"), col("pack_id") * cap)).cast("int").as("n_pack_tokens"),
        (greatest(col("cb"), col("pack_id") * cap) - col("pack_id") * cap)
          .cast("int").as("offset_in_pack"))
  }
}
