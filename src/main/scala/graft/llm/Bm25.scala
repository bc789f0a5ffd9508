package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a tokenized document corpus.
  *
  * Scale design: one narrow aggregation computes the corpus statistics
  * (N, avgdl, per-term document frequencies) into a SINGLE tiny row that
  * broadcast-crossJoins back onto the scoring scan — the 100 TB corpus
  * is read in two column-pruned passes and never shuffled; the final
  * top-k is a `TakeOrderedAndProject` (per-partition heap + driver
  * merge), not a global sort.
  *
  * Floating-point contract for oracle parity: per-term contributions are
  * summed in the caller-given term order, the length norm is computed
  * once as `k1 * (1 - b + b * dl/avgdl)`, and only the final score is
  * rounded — the whole chain is IEEE-identical when replayed in SQL.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Per-document BM25 score for `terms`, plus the tf/dl columns the
    * score derives from. Input must provide `idCol` and an array-of-
    * string `tokensCol`.
    */
  /** `(idCol, __dl, __tf_i…, __n, __avgdl, __df_i…)` — per-doc term
    * frequencies with the one-row corpus stats broadcast-crossJoined
    * back on (N, avgdl, df per term). Broadcast, not collected: the
    * stats stay a plan subtree (reusable, AQE-visible). Shared by the
    * BM25 and ltc scorers so their df/N agree by construction.
    */
  private def withStats(docs: DataFrame, idCol: String, tokensCol: String,
                        terms: Seq[String]): DataFrame = {
    val base = docs.select(col(idCol), col(tokensCol).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"__tf$i", size(filter(col("__toks"), x => x === t)))
    }.drop("__toks")
    val statAggs = count(lit(1)).as("__n") +: avg(col("__dl")).as("__avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    withTf.crossJoin(broadcast(withTf.agg(statAggs.head, statAggs.tail: _*)))
  }

  def score(docs: DataFrame, idCol: String, tokensCol: String,
            terms: Seq[String], k1: Double = K1, b: Double = B): DataFrame = {
    val scored = withStats(docs, idCol, tokensCol, terms)
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl"))
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1.0) + (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) / (tf + norm)
    }
    scored.withColumn("__score", contribs.reduce(_ + _))
      .select(col(idCol), col("__dl").as("dl"), col("__score").as("score"))
  }

  /** ltc TF-IDF query score: `Σ_t (1 + ln tf)·ln(N/df)` over terms with
    * tf > 0 — the classic log-tf·idf lexical scorer, deliberately a
    * DIFFERENT ranking family than BM25 (no length normalization, no
    * saturation) for hybrid fusion (q134). Same stats subtree as
    * [[score]]; same term-order float contract.
    */
  private def ltcScore(docs: DataFrame, idCol: String, tokensCol: String,
                       terms: Seq[String]): DataFrame = {
    val scored = withStats(docs, idCol, tokensCol, terms)
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      when(tf > 0,
        (lit(1.0) + log(tf)) * log(col("__n").cast("double") / col(s"__df$i")))
        .otherwise(lit(0.0))
    }
    scored.withColumn("__score", contribs.reduce(_ + _))
      .select(col(idCol), col("__dl").as("dl"), col("__score").as("score"))
  }

  /** Round to 6, keep the k best (score desc, id tiebreak), attach the
    * rank. The limit plans as TakeOrderedAndProject — no global sort;
    * the unpartitioned window ranks the ALREADY-limited k rows (k ≈
    * 10s), bounded by k at any scale.
    */
  private def rankTop(s: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    s.withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col(idCol).asc)).cast("int"))
  }

  /** Top-k BM25 retrieval. */
  def topK(docs: DataFrame, idCol: String, tokensCol: String,
           terms: Seq[String], k: Int): DataFrame =
    rankTop(score(docs, idCol, tokensCol, terms), idCol, k)

  /** Top-k ltc TF-IDF retrieval ([[ltcScore]]). */
  def ltcTopK(docs: DataFrame, idCol: String, tokensCol: String,
              terms: Seq[String], k: Int): DataFrame =
    rankTop(ltcScore(docs, idCol, tokensCol, terms), idCol, k)
}
