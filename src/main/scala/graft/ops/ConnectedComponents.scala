package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step of a dedup pipeline: near-dup PAIRS (MinHash/SimHash/cosine
  * candidates) become duplicate GROUPS, from which one representative
  * per group survives.
  *
  * Algorithm: iterative min-label propagation with an OBSERVED-diameter
  * switch. Every node starts as its own label; each round joins labels
  * across edges and keeps the per-node minimum; convergence when a
  * round changes nothing. Rounds are whole shuffles (label-hash joins)
  * — O(diameter) rounds, each linear in |E| — the right formulation
  * when diameters are small (dedup clusters are near-cliques, so 2-3
  * rounds). If propagation has NOT converged after `starSwitchAfter`
  * rounds, the graph has demonstrated a long diameter and the loop
  * hands off to [[alternatingStar]] — the large-star/small-star
  * alternation of Kiveris et al., "Connected Components in MapReduce
  * and Beyond" (MR'14), which contracts any graph in O(log² n) rounds
  * (O(log d) in practice) instead of O(d). Observed, not guessed: the
  * diameter is exactly what a few wasted propagation rounds measure.
  *
  * Deterministic: labels are min node ids — no RNG, no tie ambiguity.
  */
object ConnectedComponents {

  /** Rounds the last [[alternatingStar]] call ran, including the
    * fixpoint-confirming one (spec observability for the O(log d)
    * claim; written once per call, read only by tests).
    */
  private[graft] val lastAlternations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** @param edges two-column frame of undirected edges (columns `srcCol`,
    *              `dstCol`, integral ids); nodes not present in any edge
    *              are absent from the result (singletons are their own
    *              component)
    * @param driverThreshold edge count below which the components are
    *              solved with exact union-find on the driver: a dedup
    *              candidate graph is a tiny fraction of the corpus (the
    *              point of LSH), and at kilobyte scale the distributed
    *              loop pays per-round plan-compilation and shuffle
    *              overhead orders of magnitude above the actual work
    *              (measured 4× on the corpus pipeline). Above the
    *              threshold the label-join loop below runs fully
    *              distributed.
    * @return (node, component) — component = min node id reachable
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIter: Int = 20,
                       driverThreshold: Long = 1000000L,
                       starSwitchAfter: Int = 6): DataFrame = {
    val sym = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .union(edges.select(col(dstCol).cast("long").as("a"),
        col(srcCol).cast("long").as("b")))
      .distinct()
      .cache()
    if (sym.count() <= driverThreshold) {
      val result = unionFindLocal(sym)
      sym.unpersist() // collected already; the result frame is driver-built
      return result
    }
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
    // labels only ever decrease (min), so the label SUM is a monotone
    // convergence witness: equal sums between rounds ⟺ nothing changed.
    // One action per round instead of a materialize + a change-count job.
    var prevSum = Option.empty[Long]
    var converged = false
    var i = 0
    while (!converged && i < math.min(maxIter, starSwitchAfter)) {
      // neighbor labels: for node a, the labels of all b adjacent to a
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("component"))
      var next = labels.select("node", "component").union(viaNeighbors)
        .groupBy("node").agg(min(col("component")).as("component"))
      // Periodic lazy lineage truncation (same hazard as PageRank's
      // loop: unbounded nesting makes each round's convergence action
      // pay O(depth) analysis). Lazy — the sum action below
      // materializes it; periodic — a checkpoint boundary erases size
      // stats and demotes optimizer choices, so only cut every few
      // rounds. Dedup graphs converge in 2-3 rounds and never hit it.
      if ((i + 1) % 5 == 0) next = next.truncated
      val s = next.agg(sum(col("component"))).head.getLong(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      labels = next
      i += 1
    }
    if (!converged) {
      // The graph just measured its own diameter as > starSwitchAfter:
      // each further propagation round would move labels only one hop.
      // Hand the ORIGINAL edges to the star alternation (partial labels
      // are discarded — the wasted rounds are bounded by the switch
      // constant, and restarting keeps both algorithms independently
      // correct instead of entangling their invariants).
      // Budget decoupled from the propagation cap: the star alternation
      // needs O(log² n) rounds — a caller tuning maxIter for SHALLOW
      // propagation (barely above the switch) must not starve it.
      sym.unpersist()
      return alternatingStar(edges, srcCol, dstCol,
        maxIter = math.max(maxIter, 50))
    }
    // Materialize the final labels EAGERLY while sym is still cached:
    // the loop's per-round sum actions were only convergence probes, so
    // without this the returned frame would replay every non-checkpointed
    // round — against a by-then-unpersisted sym — at the caller's first
    // action. One cheap job here (≤ 5 rounds from the last checkpoint,
    // edge cache hot) buys a Scan-ExistingRDD return plan; released by
    // GraftSession.withQueryCaches.
    val out = labels.truncated(eager = true)
    sym.unpersist()
    out
  }

  /** Large-star/small-star connected components (Kiveris et al., MR'14
    * §3): the long-diameter path behind [[labelPropagation]]'s switch,
    * also callable directly when the caller KNOWS the graph is chainy.
    *
    * Each round rewires edges toward per-neighborhood minima:
    *  - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
    *    reconnects each STRICTLY LARGER neighbor v > u to m — long
    *    tails fold toward small ids without ever disconnecting;
    *  - small-star: every node u (over edges oriented high→low)
    *    reconnects itself and all its SMALLER neighbors to m — stars
    *    flatten to depth one.
    * Both preserve connectivity and only ever decrease endpoint ids,
    * so (edge count, Σa, Σb) is a deterministic convergence witness:
    * a repeated triple ⟺ fixpoint. At the fixpoint the edge set IS the
    * component star {(child, root)} — the paper proves O(log² n)
    * rounds on any graph, O(log d) on paths/trees, vs label
    * propagation's O(d) (OpsSpec pins a 64-chain converging in ≤ 8
    * alternations with output identical to propagation). The labels
    * are read off that star, so the caller's edge lineage runs once, in
    * round 1 — twice only when the input holds self-loops.
    *
    * Scale shape: each half-round is one groupBy(min) + one key-join —
    * fixed-width 16-byte edge rows, no collect, no per-node state on
    * the driver; lineage is cut EVERY round (each round's plan nests
    * three joins, so unbounded nesting is the q94/PageRank hazard at
    * double rate).
    *
    * @return (node, component) — component = min node id reachable;
    *         nodes absent from any edge are absent (contract of
    *         [[labelPropagation]])
    */
  def alternatingStar(edges: DataFrame, srcCol: String, dstCol: String,
                      maxIter: Int = 50): DataFrame = {
    val input = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    // Self-loops carry no connectivity, but a node seen ONLY in
    // self-loops is still its own component. Round 1's checkpoint pass
    // counts them, so an input without any never has its lineage
    // replayed for them.
    val loops = org.apache.spark.sql.Observation()
    var e = input.observe(loops, count(when(col("a") === col("b"), 1)).as("__loops"))
      .filter(col("a") =!= col("b")).distinct()

    // Each star op needs, per node u, BOTH the neighborhood min and the
    // per-neighbor emission — a whole-partition window aggregate
    // delivers them in ONE exchange on u (groupBy + re-join would pay
    // three), and duplicate inputs are harmless (min is idempotent, the
    // closing distinct dedups emissions), so no intermediate distinct
    // either. A component root's window group reaches component size at
    // the fixpoint — the same single-reducer residency the groupBy/join
    // formulation has, and WindowExec spills it rather than OOMing.
    // largeStar needs no closing distinct of its own: smallStar
    // re-aggregates per node and the round's closing distinct dedups
    // emissions, so duplicate large-star edges cost only a slightly
    // fatter half-round exchange — cheaper than a dedicated dedup
    // shuffle every round.
    //
    // Exchange sizing derived from the data, not a constant (guide §2):
    // every round's witness already observes the edge count for free,
    // so the NEXT round's three exchanges (largeStar window on a,
    // smallStar window on u, closing dedup on (a, b)) are explicitly
    // hash-partitioned to ceil(rows/4M) partitions — ~64 MB of 16-byte
    // edge rows each, the guide's target — capped at the session
    // shuffle-partition setting (so a cluster run never loses
    // parallelism vs the default exchange it replaces). The explicit
    // HashPartitioning satisfies each operator's required distribution,
    // so the count of exchanges per round is unchanged; what changes is
    // that a contracting graph stops paying session-width stages of
    // near-empty tasks: at bench scale each round past the first runs
    // 1-task stages instead of 32 (wall was pure per-stage scheduler
    // latency — q217 measured 2.5 s at 8 cores vs 9.7 at 32 on the SAME
    // plan), and on a shrinking 100 TB graph late rounds stop producing
    // thousands of empty shuffle blocks. Round 1 (parts = 0, count not
    // yet observed) keeps the plain session-default exchanges.
    import org.apache.spark.sql.expressions.Window
    val sessParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val targetRows = 4L << 20 // 64 MB / 16-byte (long, long) edge row
    var parts = 0
    def sized(in: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
      if (parts > 0) in.repartition(parts, keys: _*) else in
    def largeStar(in: DataFrame): DataFrame =
      sized(in.union(in.select(col("b").as("a"), col("a").as("b"))), col("a"))
        .withColumn("mn",
          least(min(col("b")).over(Window.partitionBy("a")), col("a")))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("mn").as("b"))
        .filter(col("a") =!= col("b"))
    def smallStar(in: DataFrame): DataFrame =
      sized(in.select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v")), col("u"))
        .withColumn("m", min(col("v")).over(Window.partitionBy("u"))) // m < u always
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .filter(col("a") =!= col("b"))
        .transform(d => sized(d, col("a"), col("b")))
        .distinct()

    var prev = Option.empty[(Long, Long, Long)]
    var converged = false
    var i = 0
    var lastRound: DataFrame = null
    while (!converged && i < maxIter) {
      // witness rides the checkpoint materialization (observe): one
      // action and ONE pass per round instead of checkpoint-then-agg's
      // two — the separate witness job re-read the whole frame
      val (next, m) = smallStar(largeStar(e)).truncatedObserving(
        count(lit(1)).as("__n"), sum(col("a")).as("__sa"),
        sum(col("b")).as("__sb"))
      val witness = (m("__n").asInstanceOf[Long],
        Option(m("__sa")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(m("__sb")).map(_.asInstanceOf[Long]).getOrElse(0L))
      converged = prev.contains(witness)
      prev = Some(witness)
      if (lastRound != null) lastRound.unpersist(blocking = false)
      lastRound = next
      e = next
      // size next round's exchanges from this round's observed count;
      // the symmetrized largeStar input is 2× the edge rows
      parts = math.max(1L, math.min(sessParts.toLong,
        (2 * witness._1 + targetRows - 1) / targetRows)).toInt
      i += 1
    }
    lastAlternations.set(i)
    // A budget exhaustion means the edge set is NOT a star: mapping
    // nodes through it would hand back component ids that are not the
    // reachable minimum — silently wrong labels. The witness triple is
    // only a fixpoint certificate when it repeats, so refuse to guess.
    // (Kiveris et al. prove O(log² n) rounds; 50 is far above any real
    // graph — hitting this means the input, not the budget, is wrong.)
    require(converged, s"alternatingStar did not reach its edge-set " +
      s"fixpoint within maxIter=$maxIter rounds; the contracted edges " +
      "are not yet a star and per-node labels would be incorrect. " +
      "Raise maxIter (rounds needed are O(log² n)).")
    // The fixpoint edge set IS the star {(child, root)}: every
    // edge-touching node is a child (labeled by its root) or a root
    // (labeled by itself), so the labels come from the star alone and
    // the caller's edge lineage is not replayed. groupBy-min (one
    // exchange) keeps the one-label-per-node contract structural, not
    // an artifact of star-ness.
    val star = e.select(greatest(col("a"), col("b")).as("node"),
      least(col("a"), col("b")).as("component"))
    val labeled = star.union(star.select(col("component").as("node"), col("component")))
      .groupBy("node").agg(min(col("component")).as("component"))
    if (loops.get("__loops") == 0L) labeled
    else labeled.union(input.filter(col("a") === col("b"))
      .select(col("a").as("node")).distinct()
      .join(labeled, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component")))
  }

  /** Exact union-find over a collected edge list (union-by-min keeps the
    * root the minimum id, path compression keeps it near-constant).
    */
  private def unionFindLocal(sym: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    sym.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val session = sym.sparkSession
    import session.implicits._
    parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "component")
  }

  /** Dedup selection: from near-dup `edges` over `df`'s `idCol`, keep one
    * representative per component (the min id) plus every untouched row.
    */
  def dedupByComponents(df: DataFrame, idCol: String, edges: DataFrame,
                        srcCol: String, dstCol: String): DataFrame = {
    val comps = labelPropagation(edges, srcCol, dstCol)
    val losers = comps.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
