package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: minimum hop count from a seed
  * set to every reachable node — the graph-proximity primitive under
  * "within k hops of a flagged account", influence-radius audits, and
  * crawl-frontier scheduling, sitting next to PageRank (global
  * importance) and personalized PageRank (weighted proximity) as the
  * UNWEIGHTED proximity measure.
  *
  * Classic synchronous frontier expansion (the Pregel formulation —
  * Malewicz et al., SIGMOD'10): round i joins only the CURRENT
  * frontier against the edge list, so work per round is proportional
  * to the frontier's out-degree sum, never to |V|·|E|. All shuffles
  * carry bare node keys (8 bytes); the visited set participates only
  * as an anti-join build side. At 100 TB the anti-join against an
  * ever-growing visited set is the cost center — swap it for a Bloom
  * filter pre-filter (false positives only SHRINK the frontier,
  * correctness unaffected since re-discovered nodes carry larger
  * hops) and keep the exact anti-join as the final arbiter.
  *
  * `maxHops` is FIXED, not a convergence loop (the q94/q203
  * discipline): an external oracle unrolls the same rounds CTE by
  * CTE and replays the result exactly. Seeds count at hop 0 whether
  * or not they touch any edge — isolated seeds surface with hops=0
  * rather than vanishing. Lineage is truncated every round (lazy
  * localCheckpoint): the visited union otherwise nests one join
  * deeper per round, and the analyzer cost grows super-linearly in
  * that depth (the KCore lesson).
  *
  * @param undirected symmetrize the edge list before expanding
  *        (a→b implies b→a); false follows edges as given
  * @return (node, hops) — minimum hop distance, hops ∈ [0, maxHops],
  *         one row per seed or reached node
  */
object Bfs {

  def hopCounts(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String, maxHops: Int,
                undirected: Boolean = true): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    val fwd = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
    // Checkpoint, not cache(): every round's plan references e, and a
    // cache() paired with a pre-return unpersist would serve none of
    // them. The checkpoint's exchange runs here (under AQE a lazy
    // localCheckpoint runs its shuffle stages at call time) and its
    // blocks feed all rounds; release it via GraftSession.withQueryCaches.
    // truncatedKeyed (not plain truncated): each round's join probes e
    // on __a, and blocks pre-grouped on it re-exchange as few map tasks
    // (Checkpoints.truncatedKeyed).
    val e =
      (if (undirected)
         fwd.unionByName(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
       else fwd).truncatedKeyed("__a")
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0))
    var frontier = dist.select("node")
    for (i <- 1 to maxHops) {
      // Fused frontier round (one exchange, not three): the old shape
      // was candidates.distinct + anti-join(dist) + union — the distinct
      // and the anti-join each forced their own shuffle of node keys.
      // BFS's per-node label is just min(hops), so folding candidates
      // INTO the standing distances with one groupBy(min) computes the
      // same set (a rediscovered node keeps its earlier hop; a new node
      // gets hop i) while the map-side partial min dedups candidate
      // fan-in before the exchange. The next frontier falls out of the
      // same frame as the rows whose min is this round's hop — exactly
      // the old next (discovered now ⟺ not seen before), and the filter
      // rides the aggregate's partitioning, so the next round's join
      // needs no frontier-side exchange.
      val cand = e.join(frontier, e("__a") === frontier("node"))
        .select(col("__b").as("node"), lit(i).as("hops"))
      dist = dist.unionByName(cand)
        .groupBy("node").agg(min(col("hops")).as("hops"))
        .truncated
      frontier = dist.filter(col("hops") === i).select("node")
    }
    dist.withColumn("hops", col("hops").cast("int"))
  }
}
