package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label-propagation community detection (Raghavan–Albert–Kumara,
  * Phys. Rev. E 2007): every node starts in its own community
  * (label = node id); each round a node adopts the label most common
  * among its NEIGHBORS. Near-linear-time community structure without a
  * modularity objective — the workhorse grouping pass between
  * connected components (too coarse: one label per component) and
  * k-core (density, not membership), feeding duplicate-cluster
  * canonicalization and topic-bucket seeding.
  *
  * This is the deterministic SYNCHRONOUS variant: all nodes update
  * simultaneously from the round-(i−1) labels, and ties break to the
  * SMALLEST label — the asynchronous/randomized update order of the
  * paper is irreproducible across engines, and synchronous + fixed
  * tie-break + fixed `rounds` is the engine-parity discipline of
  * q94/q203/q225 (an external oracle unrolls the identical rounds CTE
  * by CTE). Synchronous LPA can oscillate 2-cycles on bipartite-ish
  * regions instead of converging — with fixed rounds the output is
  * still exactly reproducible, and labels remain valid "round-R
  * communities"; callers wanting a fixpoint compare round R to R−1.
  *
  * Scale shape: each round is one join of the edge list against the
  * (node, label) frame, a (neighbor, label) count, and a per-node
  * argmax — all shuffles keyed on 8-byte node ids, volume bounded by
  * |E| rows of (node, label, count) slivers; the argmax is a single
  * `max(struct(count, −label))` aggregation (partial map-side, no
  * window sort). Isolated nodes (no edges) keep their own label via
  * the left join. Lineage truncates every round (lazy
  * localCheckpoint, the KCore lesson — each round embeds the prior
  * labels twice: the count join and the keep-old fallback).
  *
  * @param undirected symmetrize edges before propagating (a→b implies
  *        b→a); false restricts each node's vote to its OUT-neighbors
  *        (src adopts the majority label of its dst set)
  * @return (node, label) after `rounds` synchronous updates; label is
  *         the smallest-id convention's community representative
  */
object LabelProp {

  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int, undirected: Boolean = true): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val fwd = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
    // Checkpoint, not cache() (the Bfs note): a cache released before
    // return would serve no round; the checkpoint's exchange runs here
    // (AQE materializes a lazy localCheckpoint's shuffle stages at call
    // time) and its blocks feed every round's join. Released by
    // GraftSession.withQueryCaches.
    val e =
      (if (undirected)
         fwd.unionByName(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
       else fwd).truncatedKeyed("__b") // per-round join probes on __b
    val nodes =
      (if (undirected) e.select(col("__a").as("node"))
       else e.select(col("__a").as("node"))
         .unionByName(e.select(col("__b").as("node")))).distinct()
    var lab = nodes.withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      // round-(i-1) labels seen across each node's incident edges
      val counts = e
        .join(lab.select(col("node").as("__b"), col("label")), Seq("__b"))
        .groupBy(col("__a").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // per-node argmax with min-label tie-break: lexicographic max of
      // (count, −label) — labels are node ids ≥ 0, so −label orders the
      // tie to the smallest id; one hash aggregation, no window sort
      val best = counts
        .groupBy("node")
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("node"), (-col("__m.__nl")).as("__new"))
      lab = lab
        .join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
        .truncated
    }
    lab
  }
}
