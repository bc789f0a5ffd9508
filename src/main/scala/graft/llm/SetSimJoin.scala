package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via prefix filtering (the All-Pairs /
  * PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).
  *
  * Completes the near-dup family (reference semantics:
  * `src/search_ranking_peers.py:210-243`'s all-pairs similarity intent):
  * MinHash-LSH (`DedupOps.lshCandidates`) and SimHash trade recall for
  * speed; this operator returns EXACTLY the pairs with Jaccard >= tau,
  * without an all-pairs comparison.
  *
  * How it scales: each set's elements are canonically ordered
  * rarest-first (ascending global document frequency, ties by value).
  * If J(a,b) >= tau then |a ∩ b| >= tau·max(|a|,|b|) (from
  * J = o/(|a|+|b|-o) >= tau and |a|+|b|-o >= max(|a|,|b|)), so skipping
  * the last ceil(tau·|x|)-1 elements of either set cannot skip every
  * common element: any true pair shares an element inside both PREFIXES
  * of length |x| - ceil(tau·|x|) + 1. Candidate generation therefore
  * joins only on prefix elements — the rarest in the corpus, so the
  * per-element pair fan-out is df², df small by construction. Verification
  * is exact Jaccard on the candidate pairs only.
  *
  * Exchange discipline: elements are hashed to `xxhash64` 8-byte keys AT
  * THE SCAN, before any shuffle — the df count, the canonical ordering,
  * the prefix-candidate join, and the verify frames all move fixed-width
  * longs, never the raw strings (a shingle is tens of bytes; the hash is
  * 8). Jaccard on the hashed sets equals Jaccard on the string sets
  * unless two distinct elements of one pair's union collide in 64 bits
  * (P ~ |union|²/2⁶⁴ — negligible at any realistic vocabulary), so
  * results are byte-identical to the string path and the DuckDB oracle
  * keeps computing on raw strings. The df table is a vocabulary-sized
  * aggregate, and the candidate join key (rare element) is
  * high-cardinality — no skew salting needed, unlike the bounded-key
  * pair joins in `queries/Reports.scala`.
  */
object SetSimJoin {

  /** Pairs (a_doc < b_doc) with Jaccard(setCol_a, setCol_b) >= tau.
    *
    * @param sets (idCol: long, setCol: array<string>) — elements need not
    *             be distinct; they are deduplicated here.
    * @return (a_doc, b_doc, jaccard) — jaccard is one exact integer
    *         division (IEEE-identical across engines, no rounding).
    */
  def prefixFilterJoin(sets: DataFrame, idCol: String, setCol: String,
                       tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    // Hash to 8-byte keys scan-side; distinct on the hashed domain so set
    // sizes are consistent with everything computed downstream.
    val distinctSets = sets
      .select(col(idCol),
        array_distinct(transform(col(setCol), e => xxhash64(e))).as("__s"))
      .filter(size(col("__s")) > 0)

    val ex = distinctSets.select(col(idCol), explode(col("__s")).as("__g"))
    val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))

    // Canonical rarest-first order: sort (df, element) structs — unique
    // within a set because elements are distinct, so the collect_list
    // order never reaches the output.
    val ordered = ex.join(dfreq, "__g")
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("__df"), col("__g")))).as("__sw"))
      .select(col(idCol),
        transform(col("__sw"), x => x.getField("__g")).as("__s"),
        size(col("__sw")).as("__n"))

    // Prefix length |x| - ceil(tau·|x|) + 1 (>= 1 for any nonempty set).
    val prefLen = (col("__n") - ceil(col("__n") * lit(tau)).cast("int") + 1)
    val pref = ordered.select(col(idCol),
      explode(slice(col("__s"), lit(1), prefLen)).as("__g"))

    val candA = pref.select(col(idCol).as("a_doc"), col("__g"))
    val candB = pref.select(col(idCol).as("b_doc"), col("__g"))
    val cand = candA.join(candB, Seq("__g"))
      .filter(col("a_doc") < col("b_doc"))
      .select("a_doc", "b_doc").distinct()

    val aSets = ordered.select(col(idCol).as("a_doc"), col("__s").as("__sa"))
    val bSets = ordered.select(col(idCol).as("b_doc"), col("__s").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val union = size(array_union(col("__sa"), col("__sb")))
    cand.join(aSets, Seq("a_doc")).join(bSets, Seq("b_doc"))
      .select(col("a_doc"), col("b_doc"),
        (inter.cast("double") / union).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
