package graft.llm

import graft.ops.ExactSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse IDF-weighted cosine similarity join over distinct n-gram
  * shingles (binary tf): lexical near-dup scoring WITHOUT a dense
  * all-pairs pass. Pairs materialize only through shared grams (an
  * inverted-posting self-join), so the pair space is Σ_g df(g)²,
  * bounded by the `maxDf` posting-list cap — the rare-feature-blocking
  * idea of MinHash banding, but with an exact cosine on the survivors
  * (Bayardo et al., WWW'07 all-pairs similarity search).
  *
  * Both float reductions (‖d‖² per doc, d_a·d_b per pair) are
  * [[graft.ops.ExactSum]] scaled-integer sums: map-side partial
  * aggregation, fixed-width state, and a result independent of shuffle
  * arrival order, so a hash oracle gates the floats exactly (q120).
  *
  * 100 TB shape: two shuffles that matter — gram-keyed (df + posting
  * join; `maxDf` caps the heaviest posting list, so no gram key can
  * hot-spot a reducer) and pair-keyed (dot aggregation; keys are
  * (doc, doc) pairs, naturally high-cardinality), both partial-aggregated.
  */
object SparseSim {

  /** All (doc_a < doc_b) pairs with IDF-cosine ≥ `minSim`, as
    * (doc_a, doc_b, n_shared, sim) with sim rounded to 6.
    *
    * @param docs      one row per document
    * @param idCol     document id column name
    * @param textCol   whitespace-tokenizable text column name
    * @param gramN     shingle width (tokens per gram)
    * @param maxDf     drop grams appearing in more than this many docs
    * @param minSim    cosine threshold on emitted pairs
    */
  def idfCosineJoin(docs: DataFrame, idCol: String, textCol: String,
                    gramN: Int, maxDf: Int, minSim: Double): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.shingles(TextOps.tokenize(col(textCol)), gramN)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfreq, "g").crossJoin(broadcast(n))
      .select(col("doc_id"), col("g"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w"))
    val nrm = w.groupBy("doc_id").agg(sqrt(ExactSum(col("w") * col("w"))).as("nrm"))
    val dots = w.select(col("doc_id").as("doc_a"), col("g"), col("w").as("w_a"))
      .join(w.select(col("doc_id").as("doc_b"), col("g"), col("w").as("w_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("int").as("n_shared"),
        ExactSum(col("w_a") * col("w_b")).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .filter(col("dot") / (col("na") * col("nb")) >= minSim)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("dot") / (col("na") * col("nb")), 6).as("sim"))
  }
}
