package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{functions => F}
import graft.engine.expressions.DotProduct
import graft.ops.{Dedup, Indexing, Scale, TopK}
import graft.queries.T

/** End-to-end re-expression of the reference's flagship entry point
  * `SearchRankPeers.main()` (SURVEY.md §3.1; `src/search_ranking_peers.py:457-571`)
  * over the customer test table:
  *
  *  1. clean: filter + casts (`:342-349`)
  *  2. literal prospect row injected + unionByName (`:464-471`, defect
  *     d7 fixed: arity-correct row)
  *  3. median imputation of numeric features (`:473-476`)
  *  4. key dedup (`:484`, deterministic variant)
  *  5. surrogate ids + seeded batch split (`:486-494`)
  *  6. weighted min-max features (`:497-524` — the full OHE chain lives
  *     in feature.FeaturePipeline; this flow uses the SQL-parity scalers)
  *  7. similarity: L2-normalized feature dot (codegen) blended with
  *     NAICS hops + haversine (`:238-243,310-312`)
  *  8. per-target top-K + attribute join-back + report sort (`:327-340`)
  *
  * Differences by design: no collect-to-driver anywhere (the reference
  * collects the right matrix and the L6/lat/lon lists); batching is a
  * knob, not a memory requirement — each batch is a filtered branch of
  * one distributed plan, unioned back (`O5`/`O6` parity).
  */
object PeerSearchFlow {

  case class Config(wHops: Double = 0.399, wHavs: Double = 0.001,
                    topK: Int = 15, minBatch: Int = 1, seed: Long = 100L,
                    threshold: Double = 0.0)

  /** Run the full flow; returns the final report frame. */
  def run(spark: SparkSession, sfDir: String, cfg: Config = Config()): DataFrame = {
    DotProduct.register(spark)

    // 1. clean — drop the sentinel segment (reference drops coname 'RST')
    // and cast features.
    val raw = T(spark, sfDir, "customer")
      .filter(col("c_name").isNotNull && col("c_acctbal").isNotNull)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("acctbal"), col("c_mktsegment"))

    // 2. literal prospect row (S5) + unionByName — d7 fixed: right arity.
    val prospect = spark.range(1).select(
      lit(-1L).as("c_custkey"), lit("PROSPECT CO").as("c_name"),
      lit(0).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("acctbal"), lit("BUILDING").as("c_mktsegment"))
    val unioned = raw.unionByName(prospect)

    // 3. median imputation (M1 semantics) of the injected null — EXACT
    // median (`percentile`, interpolated) instead of ml.Imputer's
    // approxQuantile: numerically identical apart from even-count
    // interpolation and, unlike the approx sketch, reproducible by the
    // DuckDB oracle (`median()` interpolates the same way), which is what
    // promotes the flagship flow to a full hash-matched query. The
    // ml.Imputer path stays covered by feature.FeaturePipeline + MlSpec.
    // The one-row aggregate is pulled EAGERLY and baked in as a literal
    // (exactly what Imputer.fit does): left lazy in the plan, the agg +
    // crossJoin re-execute in every downstream branch — both self-join
    // sides and both minmax stats passes — measured +3.5 s at sf0.1.
    // This is the evenSplits/A5 scalar-pull pattern, not a data collect.
    val med = unioned.agg(expr("percentile(acctbal, 0.5)")).head().getDouble(0)
    val imputed = unioned.withColumn("acctbal_imp", coalesce(col("acctbal"), lit(med)))

    // 4. deterministic key dedup (A1).
    val deduped = Dedup.firstPerKey(imputed, Seq("c_custkey"), Seq(col("c_name").asc))

    // 5. surrogate ids + seeded batch assignment (O6 parity: randomSplit
    // replaced by a uniform deterministic batch key — same distribution,
    // no resampling job per batch).
    // The unpartitioned row_number window collapses the frame to ONE
    // partition; everything downstream (feature math, the explosive
    // similarity join, md5 NAICS synth) would inherit it and run
    // single-threaded. Fan back out immediately — one tiny shuffle.
    // Deliberately NOT ops.GlobalRank here: this frame is customer-
    // dimension scale and feeds ~6 uncached plan branches (both self-join
    // sides × nested minmax stats); re-executing the two-pass range
    // machinery per branch measured 3× the whole query (12.8 s vs 4.3 s
    // at sf0.1), while one 15k-row window task is noise. Fact-scale
    // callers index once up front with GlobalRank/zipWithIndexOrdered and
    // cache — not inside a multiply-branched lazy pipeline.
    val n = spark.sessionState.conf.numShufflePartitions
    val indexed = Indexing.withRowIndex(deduped, "idx", Seq(col("c_custkey").asc))
      .repartition(n)
      .withColumn("batch", pmod(hash(col("c_custkey"), lit(cfg.seed)), lit(cfg.minBatch)))

    // 6. weighted scaled features (M6/M7): [0.8 * minmax(acctbal), 0.2 *
    // minmax(nation)] — then L2-normalize for the cosine kernel.
    val scaled = Scale.minmax(
      Scale.minmax(indexed, "acctbal_imp", "f_bal"), "c_nationkey", "f_nat")
      .withColumn("features", array(col("f_bal") * 0.8, col("f_nat") * 0.2))
    val geo = scaled
      .withColumn("lat", when(col("c_custkey") % 23 === 0, lit(null).cast("double"))
        .otherwise(((col("c_custkey") * 13) % 160 - 80 + lit(0.25)).cast("double")))
      .withColumn("lon", ((col("c_custkey") * 31) % 340 - 170 + lit(0.5)).cast("double"))
      .withColumn("naics", concat(substring(md5(col("c_mktsegment")), 1, 3),
        substring(md5(col("c_nationkey").cast("string")), 1, 3)))
      .withColumn("naics_num", F.hopsCode(col("naics")))
      .withColumn("nrm", sqrt(DotProduct.dot(col("features"), col("features"))))
      .withColumn("unit", when(col("nrm") === 0.0, col("features"))
        .otherwise(transform(col("features"), x => x / col("nrm"))))
    // NOTE: deliberately NOT cached — measured 2× slower cached (the
    // InMemoryRelation breaks whole-stage fusion of the downstream
    // self-join branches; recomputing the narrow 15k-row projection is
    // cheaper than dematerializing it).

    // 7-8. similarity + top-K. The reference's batch loop exists to bound
    // the memory of a client-side matmul; here each batch would be a
    // filtered branch of the SAME distributed plan, and since batches
    // partition the TARGETS and top-K/threshold are per-target, the
    // union over batches is row-identical to one unbatched join. Running
    // the join once instead of minBatch times avoids re-executing the
    // whole upstream pipeline per batch (measured 2× at minBatch = 2);
    // the batch column stays on the frame as the audit/parity surface.
    val tgt = geo.select(geo.columns.toSeq.map(c => col(c).as(s"t_$c")): _*)
    val src = geo.select(geo.columns.toSeq.map(c => col(c).as(s"s_$c")): _*)
    val pairs = tgt
      .join(src, col("t_c_nationkey") === col("s_c_nationkey") &&
        col("t_idx") =!= col("s_idx"))
      .select(col("t_c_custkey").as("tgt_custkey"), col("s_c_custkey").as("src_custkey"),
        round(F.blendedScore(
          DotProduct.dot(col("t_unit"), col("s_unit")),
          F.hopsScoreHex(col("t_naics_num"), col("s_naics_num")),
          F.haversineScore(col("t_lat"), col("t_lon"), col("s_lat"), col("s_lon")),
          cfg.wHops, cfg.wHavs), 6).as("score"))
    // Threshold AFTER the rank window, not before: ordering is score-desc,
    // so {score>=th then top-K} and {top-K then score>=th} keep the same
    // rows with the same ranks — but a pre-window filter gets pushed
    // below the projection and re-evaluates the whole blend per pair,
    // while the window blocks pushdown and the score is computed once.
    // prepartition = false: with the explosion running wide (see the AQE
    // minPartitionSize note in GraftSession.scala), the map-side WindowGroupLimit
    // prunes ~600-candidate groups to 15 BEFORE the shuffle — measured
    // faster than the repartition-first form at sf0.1.
    val allPeers = TopK.exactPerKey(pairs, Seq("tgt_custkey"),
        Seq(col("score").desc, col("src_custkey").asc), cfg.topK, "peer_rank")
      .filter(col("score") >= cfg.threshold)

    // attribute join-back (J1) + report sort (O1). No broadcast hint:
    // customer grows with scale factor, while allPeers is bounded at
    // topK rows per target — AQE picks the genuinely-small side at
    // runtime instead of a forced full-table broadcast that would
    // hard-fail past the driver ceiling at 100 TB.
    allPeers
      .join(T(spark, sfDir, "customer")
        .select(col("c_custkey").as("src_custkey"), col("c_name").as("src_name"),
          col("c_mktsegment").as("src_segment")), Seq("src_custkey"))
      .withColumn("peer_rank", col("peer_rank").cast("int"))
      .select("tgt_custkey", "src_custkey", "score", "peer_rank", "src_name", "src_segment")
      .orderBy(col("tgt_custkey").asc, col("score").desc, col("src_custkey").asc)
  }
}
