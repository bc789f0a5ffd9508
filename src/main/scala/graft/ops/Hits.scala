package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg, JACM'99) over a weighted
  * bipartite edge list: authority(s) accumulates the hub mass of
  * everyone pointing at s, hub(c) accumulates the authority mass of
  * everything c points at — mutual reinforcement that separates
  * "big because well-connected to the important" from raw degree.
  * On a buyer→supplier graph the hub side scores broad, well-aimed
  * buyers and the authority side scores suppliers favored by those
  * buyers — the companion diagnostic to q94's PageRank (which needs
  * a homogeneous node space; HITS is native to bipartite).
  *
  * Each half-step is one join (edges × current (node, score) sliver)
  * plus one aggregation by node. The edge frame is checkpointed once
  * (`e0`) and serves every half-step. Normalization is 1-norm (scores
  * sum to 1 per side): unlike the classic 2-norm it needs no sqrt and
  * keeps the oracle arithmetic plain SQL, and since normalization is
  * only a shared scale factor the RANKING is identical.
  *
  * Per half-step, the raw scores are checkpointed eagerly and the same
  * pass observes their total and row count
  * ([[Checkpoints.TruncateOps.truncatedObserving]]). The total divides
  * the raw scores as a plan literal. The row count sizes the NEXT
  * half-step's join: when rows × Spark's per-row size estimate fit
  * under `spark.sql.autoBroadcastJoinThreshold`, the sliver is
  * broadcast into `e0` and neither side shuffles — 3 jobs per
  * half-step (broadcast, aggregation map stage, checkpoint pass).
  * Otherwise the sliver joins a copy of the edges pre-partitioned on
  * the probe key — the shape for slivers too large to broadcast.
  * Threshold -1 forces that path.
  *
  * Determinism contract for oracle parity (the PageRank discipline):
  * scores round to 10 dp after each normalization, so cross-engine
  * float-sum ordering differences cannot accumulate; callers round
  * the final output coarser. `iters` is fixed — an external oracle
  * unrolls the same updates CTE by CTE (q226).
  *
  * @param edges weighted bipartite edges, hub side → authority side;
  *        hub and authority key spaces are treated as disjoint
  * @return ("hub"|"auth", node, score) after `iters` rounds from the
  *         uniform hub start 1/|H|
  */
object Hits {

  /** The checkpointed edge frame `e0` (columns `__c`, `__s`, `__w`) and
    * the half-step over it.
    */
  private[graft] final class Edges(val e0: DataFrame) {
    // Copies pre-partitioned on each probe key, built only when a
    // sliver is too large to broadcast: under AQE even a lazy
    // localCheckpoint runs its exchange at call time.
    private lazy val byHub = e0.truncatedKeyed("__c")
    private lazy val byAuth = e0.truncatedKeyed("__s")
    private val threshold =
      e0.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

    /** One half-step: Σ score·w per `outCol` node over the edges whose
      * `inCol` node carries a score.
      *
      * @param rows the sliver's row count, when observed; it broadcasts
      *        if its estimated size fits the broadcast threshold
      */
    def half(scores: DataFrame, rows: Option[Long], inCol: String,
             outCol: String): DataFrame = {
      val sliver = scores.select(col("node").as("__jn"), col("score"))
      val rowBytes = EstimationUtils.getSizePerRow(sliver.queryExecution.analyzed.output)
      val fits = rows.exists(n => BigInt(n) * rowBytes <= threshold)
      val (edg, probe) =
        if (fits) (e0, broadcast(sliver))
        else (if (inCol == "__s") byAuth else byHub, sliver)
      edg.join(probe, edg(inCol) === col("__jn"))
        .groupBy(edg(outCol).as("node"))
        .agg(sum(col("score") * col("__w")).as("__raw"))
    }
  }

  /** Normalize + round(10) after EVERY half-update (the oracle-parity
    * contract above); each normalization is one eager pass that also
    * sizes the next half-step's join.
    */
  def bipartite(edges: DataFrame, hubCol: String, authCol: String,
                weightCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be at least 1, got $iters")
    // Eager, so the caller's edge lineage (for q226: the
    // lineitem⋈orders groupBy) runs once; every later read is of these
    // blocks.
    val e = new Edges(edges.select(col(hubCol).as("__c"), col(authCol).as("__s"),
      col(weightCol).cast("double").as("__w")).truncated(eager = true))
    val (hubs, hm) = e.e0.select(col("__c").as("node")).distinct()
      .truncatedObserving(count(lit(1)).as("__n"))
    val nHubs = hm("__n").asInstanceOf[Long]
    var h = hubs.select(col("node"), lit(1.0 / nHubs).as("score"))
    var hRows = Option(nHubs)
    var a: DataFrame = null
    // Raw scores → normalized scores: one eager pass checkpoints the raw
    // rows and observes their total (a plan literal here) and count
    // (the next half-step's join choice).
    def normalized(raw: DataFrame): (DataFrame, Option[Long]) = {
      val (cp, m) = raw.truncatedObserving(sum(col("__raw")).as("__tot"),
        count(lit(1)).as("__n"))
      (cp.select(col("node"),
         round(col("__raw") / lit(m("__tot")).cast("double"), 10).as("score")),
       Some(m("__n").asInstanceOf[Long]))
    }
    for (_ <- 1 to iters) {
      val (aNext, aRows) = normalized(e.half(h, hRows, "__c", "__s"))
      a = aNext
      val (hNext, hNextRows) = normalized(e.half(a, aRows, "__s", "__c"))
      h = hNext
      hRows = hNextRows
    }
    h.select(lit("hub").as("kind"), col("node"), col("score"))
      .unionByName(a.select(lit("auth").as("kind"), col("node"), col("score")))
  }
}
