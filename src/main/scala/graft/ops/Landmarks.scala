package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Landmark distance sketches (Das Sarma et al., WSDM'10): BFS hop
  * distances from a SMALL landmark set, kept PER LANDMARK — the
  * scalable stand-in for all-pairs distances. With L landmarks every
  * node carries an L-entry distance vector; d(u,v) is estimated by
  * min over landmarks of d(u,ℓ)+d(ℓ,v) (triangle-inequality upper
  * bound), and centrality aggregates (closeness, harmonic) come from
  * the vector directly. Exact all-pairs is Θ(|V|²) — dead at any
  * scale; the sketch is L·|V| labels with L in the tens.
  *
  * Differs from [[Bfs.hopCounts]] in exactly one way: the frontier
  * key is (node, landmark), not node, so seeds do NOT merge into one
  * min-hop label — each landmark's BFS runs independently inside the
  * same joins. Shuffles carry (node, landmark) pairs (16 bytes);
  * per-round volume is bounded by L × frontier out-degree. The same
  * Bloom-prefilter note as [[Bfs]] applies to the visited anti-join
  * at 100 TB. `maxHops` is FIXED (the q225 oracle-unroll discipline);
  * lineage truncates every round.
  *
  * @return hopDistances: (node, landmark, hops), hops ∈ [0, maxHops],
  *         one row per (reached node, landmark)
  */
object Landmarks {

  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   landmarks: DataFrame, landmarkCol: String, maxHops: Int,
                   undirected: Boolean = true): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    val fwd = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
    val e =
      (if (undirected)
         fwd.unionByName(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
       else fwd).truncatedKeyed("__a") // serves every hop's
    // frontier join at the caller's first action (the Bfs note: a cache
    // unpersisted before return never serves); withQueryCaches releases
    var dist = landmarks.select(col(landmarkCol).as("landmark")).distinct()
      .select(col("landmark").as("node"), col("landmark"))
      .withColumn("hops", lit(0))
    var frontier = dist.select("node", "landmark")
    for (i <- 1 to maxHops) {
      // Fused frontier round on the (node, landmark) pair key — the Bfs
      // idiom: candidates fold into the standing sketch with ONE
      // groupBy(min) instead of distinct + anti-join (three exchanges
      // down to one; map-side partial min dedups candidate fan-in
      // before the shuffle). A pair rediscovered at hop i keeps its
      // earlier hop, so the min-label frame IS the old union, and the
      // new frontier is the rows whose min equals this round's hop.
      val cand = e.join(frontier, e("__a") === frontier("node"))
        .select(col("__b").as("node"), col("landmark"), lit(i).as("hops"))
      dist = dist.unionByName(cand)
        .groupBy("node", "landmark").agg(min(col("hops")).as("hops"))
        .truncated
      frontier = dist.filter(col("hops") === i).select("node", "landmark")
    }
    dist.withColumn("hops", col("hops").cast("int"))
  }

  /** Landmark lower bounds on eccentricity and graph diameter (the
    * Magnien–Latapy–Habib bounding discipline, JEA 2009): a node's
    * true eccentricity is ≥ its distance to any landmark, so
    * `ecc_lb(v) = max_ℓ d(v,ℓ)` — and the graph diameter is ≥ every
    * eccentricity, so `diameter_lb = max_v ecc_lb(v)` (equivalently
    * the largest distance the sketch observed anywhere). Exact
    * eccentricity needs all-pairs BFS — Θ(|V|·|E|), dead at scale;
    * the sketch bound is one groupBy over the L·|V| sketch rows plus
    * a one-row broadcast for the global max. Bounds are truncated by
    * the sketch's maxHops: d(v,ℓ) > maxHops contributes nothing, so
    * both quantities are still valid LOWER bounds, just looser.
    *
    * @return (node, n_reached, ecc_lb, diameter_lb): one row per
    *         sketched node; n_reached counts landmarks at d ≥ 1;
    *         diameter_lb repeats the global bound on every row (the
    *         one-row-broadcast idiom, so the frame stays rectangular)
    */
  def eccentricity(sketch: DataFrame): DataFrame = {
    val perNode = sketch.groupBy("node").agg(
      count(when(col("hops") >= 1, 1)).cast("int").as("n_reached"),
      max(col("hops")).cast("int").as("ecc_lb"))
    val diam = perNode.agg(max(col("ecc_lb")).as("diameter_lb"))
    perNode.crossJoin(broadcast(diam))
  }
}
