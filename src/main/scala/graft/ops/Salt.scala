package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for pair joins on a low-cardinality key: salt the
  * candidate side into `salts` sub-keys and replicate the probe side
  * across all salt values, so one hot key's pairs spread over `salts`
  * reducers instead of one.
  */
object Salt {

  /** Pair-explosion join `probe ⋈ cand` on a LOW-cardinality equi-key
    * (e.g. 25 nations, a handful of languages). Without help, the
    * non-broadcast fallback hashes on ≤|key| values, so the O(pairs)
    * scoring stage runs on at most |key| tasks no matter the cluster
    * width (the reference batches its peer join for exactly this reason,
    * `search_ranking_peers.py:238-243`). Salting restores width:
    *
    *  - each CANDIDATE row gets ONE deterministic salt in [0, salts);
    *  - each PROBE row is replicated across ALL salts;
    *  - joining on (key, salt) yields every pair exactly once while the
    *    shuffle key has |key|·salts distinct values.
    *
    * Cost: probe shuffle volume × salts — cheap while salts ≪ |cand|/|key|
    * (the O(|probe|·|cand|/|key|) pair output dwarfs the replicated probe).
    * When the candidate side still fits a broadcast, AQE keeps the
    * broadcast-hash plan and the salt only slices the hash buckets.
    *
    * Values are unchanged by construction — the salted q13/q14/q22 plans
    * hash-match their unsalted DuckDB oracles.
    */
  def saltedPairJoin(probe: DataFrame, cand: DataFrame,
                     probeKey: String, candKey: String, candSaltSrc: String,
                     salts: Int, extraCond: Column): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val n = cand.sparkSession.sessionState.conf.numShufflePartitions
    val p = probe.withColumn("__psalt", explode(sequence(lit(0), lit(salts - 1))))
    // Hash-repartition the salted candidates on the JOIN key, explicit
    // partition count (REPARTITION_BY_NUM — AQE won't coalesce it away):
    //  - shuffled fallback: this is exactly the exchange the sort-merge
    //    join requires, so EnsureRequirements reuses it — zero extra cost
    //    on the path that needs the salt;
    //  - probe-broadcast plan (the planner builds on whichever side is
    //    smaller, and the filtered probe usually is): the candidate side
    //    STREAMS, and without this exchange it would inherit the scan's
    //    split count — a near-single-task O(pairs) stage when the
    //    relation arrives in one file.
    val c = cand.withColumn("__csalt",
        pmod(xxhash64(col(candSaltSrc)), lit(salts.toLong)).cast("int"))
      .repartition(n, col(candKey), col("__csalt"))
    p.join(c, col(probeKey) === col(candKey) &&
        col("__psalt") === col("__csalt") && extraCond)
      .drop("__psalt", "__csalt")
  }

  /** Salt count scaled to the session's shuffle width: enough that
    * |key|·salts oversubscribes the reducer count 4× (so every reducer
    * gets work w.h.p. under hash placement), capped to bound the probe
    * replication factor.
    */
  def widthSalts(spark: SparkSession, keyCardinality: Int, cap: Int = 256): Int = {
    val n = spark.sessionState.conf.numShufflePartitions
    math.min(cap, math.max(1, math.ceil(4.0 * n / keyCardinality).toInt))
  }
}
