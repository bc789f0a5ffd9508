package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.BloomPrune

/** Benchmark decontamination: find corpus documents sharing any word
  * n-gram with a held-out eval set (q104 / flows.TrainingPrep stage 4).
  *
  * Grams are xxhash64-ed before any shuffle — 8-byte keys move, never
  * text (a 64-bit collision can only ADD a contaminated id, with
  * probability ~n²/2⁶⁵ — the conservative failure direction for a drop
  * decision).
  *
  * Two physical paths, identical results:
  *  - plain: gram-key equi-join, AQE broadcasts the eval side while it
  *    fits (the common case — benchmark suites are tiny next to a
  *    corpus);
  *  - bloomPrefilter: when the eval gram set outgrows the broadcast
  *    ceiling but its Bloom sketch (a few MB at fpp=1%) does not, the
  *    sketch ships to the corpus gram scan and drops non-matching grams
  *    BEFORE the exchange — shuffle volume falls by roughly the match
  *    selectivity, and the exact join that follows kills the false
  *    positives, so the contaminated-id set is bit-identical (pinned by
  *    LlmOpsSpec and by the q109 oracle, which runs this path).
  */
object Decontaminate {

  /** Distinct ids of non-eval documents sharing ≥1 n-gram with the eval
    * slice. `isEval` partitions the corpus (rows where it holds are the
    * benchmark side and are never themselves reported).
    */
  def contaminatedIds(docs: DataFrame, idCol: String, textCol: String,
                      isEval: Column, n: Int = 3,
                      bloomPrefilter: Boolean = false,
                      fpp: Double = 0.01): DataFrame =
    contaminatedIdsAgainst(docs.filter(!isEval), docs.filter(isEval),
      idCol, textCol, n, bloomPrefilter, fpp)

  /** Two-frame form: ids of `train` documents sharing ≥1 n-gram with
    * `evalDocs` — the benchmark set as its own table, fixed up front,
    * as [[graft.flows.CorpusPipeline]] checks its canonical corpus.
    * `contaminatedIds` is this with the corpus partitioned by a
    * predicate.
    */
  def contaminatedIdsAgainst(train: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String, n: Int = 3,
                             bloomPrefilter: Boolean = false,
                             fpp: Double = 0.01): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol),
        explode(TextOps.shingles(TextOps.tokenize(col(textCol)), n)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g"))
    val trainG = grams(train)
    val evalG = grams(evalDocs).select(col("g").as("ge")).distinct()
    val hits =
      if (bloomPrefilter) BloomPrune.prunedInnerJoin(trainG, "g", evalG, "ge", fpp)
      else trainG.join(evalG, col("g") === col("ge"))
    hits.select(idCol).distinct()
  }
}
