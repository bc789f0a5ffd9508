package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse IDF-weighted cosine similarity join over distinct n-gram
  * shingles (binary tf): lexical near-dup scoring WITHOUT a dense
  * all-pairs pass. Pairs materialize only through shared grams (an
  * inverted-posting self-join), so the pair space is Σ_g df(g)²,
  * bounded by the `maxDf` posting-list cap — the rare-feature-blocking
  * idea of MinHash banding, but with an exact cosine on the survivors
  * (Bayardo et al., WWW'07 all-pairs similarity search).
  *
  * Two float-reduction modes, same pair set:
  *  - `exactFold = true` — every sum is an ORDERED fold by gram
  *    (`array_sort(collect_list(struct))` + a sequential
  *    `functions.aggregate`), so the addition sequence is bit-identical
  *    to an external engine's `list_reduce(list(... ORDER BY g))` and a
  *    hash oracle can gate the floats exactly (q120). The tax: every
  *    group materializes and sorts its values — no partial aggregation.
  *  - `exactFold = false` — plain `sum()` aggregates: map-side partial
  *    aggregation, no per-group arrays, whole-stage codegen end to end.
  *    Float addition order then follows shuffle arrival, so the last
  *    ulp can differ from the fold path, but the PAIR SET is identical
  *    away from threshold boundaries (SparseSimSpec pins pair equality
  *    and sim agreement to 1e-9 on the test corpus). This is the
  *    production path at scale; q120 runs it in production mode, so
  *    `graft.Profile --mode exact|production` measures the gap.
  *
  * 100 TB shape: two shuffles that matter — gram-keyed (df + posting
  * join; `maxDf` caps the heaviest posting list, so no gram key can
  * hot-spot a reducer) and pair-keyed (dot aggregation; keys are
  * (doc, doc) pairs, naturally high-cardinality). The fast path keeps
  * both shuffles partial-aggregated; the fold path trades that for
  * oracle bit-parity and belongs in gates, not production runs.
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
    * @param exactFold ordered-fold (oracle-exact) vs plain-sum floats
    */
  def idfCosineJoin(docs: DataFrame, idCol: String, textCol: String,
                    gramN: Int, maxDf: Int, minSim: Double,
                    exactFold: Boolean = false): DataFrame = {
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

    // the two reductions: ‖d‖² per doc and d_a·d_b per candidate pair
    def foldNorm(in: DataFrame): DataFrame =
      if (exactFold)
        in.select(col("doc_id"), struct(col("g"), (col("w") * col("w")).as("v")).as("e"))
          .groupBy("doc_id").agg(array_sort(collect_list(col("e"))).as("__s"))
          .select(col("doc_id"), sqrt(orderedSum(col("__s"), "v")).as("nrm"))
      else
        in.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))

    val nrm = foldNorm(w)
    val pp = w.select(col("doc_id").as("doc_a"), col("g"), col("w").as("w_a"))
      .join(w.select(col("doc_id").as("doc_b"), col("g"), col("w").as("w_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
    val dots =
      if (exactFold)
        pp.select(col("doc_a"), col("doc_b"),
            struct(col("g"), (col("w_a") * col("w_b")).as("v")).as("e"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).cast("int").as("n_shared"),
            array_sort(collect_list(col("e"))).as("__s"))
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            orderedSum(col("__s"), "v").as("dot"))
      else
        pp.groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).cast("int").as("n_shared"),
            sum(col("w_a") * col("w_b")).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .filter(col("dot") / (col("na") * col("nb")) >= minSim)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("dot") / (col("na") * col("nb")), 6).as("sim"))
  }

  /** Sequential left fold of `structs[i].field` — the q101 sorted-
    * aggregate shape, addition order fixed by the array order.
    */
  private def orderedSum(structs: Column, field: String): Column =
    aggregate(slice(structs, lit(2), size(structs) - 1),
      element_at(structs, 1).getField(field),
      (acc, v) => acc + v.getField(field))
}
