package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.feature.FeaturePipeline
import graft.rec.AlsPipeline

/** ML-pipeline queries. The ALS fit (q40) is not DuckDB-expressible,
  * so its oracle is structural: the recommendation rows' counts, ranks
  * and item distinctness, replayed from the base join; statistical
  * correctness lives in the ScalaTest specs (MlSpec, SURVEY.md §5.4).
  * The deterministic pipelines — the flagship
  * peer-search flow (q44) and the feature pipeline (q41) — carry full
  * SQL twins: their only non-SQL ingredient was ml.Imputer's
  * approx-median, replaced by the exact interpolated median
  * (`percentile` ≡ DuckDB `median`), which promotes both to
  * hash-matched oracles.
  */
object ML {

  /** SQL twin of `flows.PeerSearchFlow.run`. Stage-for-stage
    * with the Scala plan (clean → prospect union → exact-median impute →
    * minmax features → L2 unit vectors → same-nation blended pairs →
    * top-15 per target → customer join-back). Both guard self-pairs with
    * `c_custkey` inequality. The twin skips the flow's key dedup:
    * `c_custkey` is unique in customer, and PeerSearchFlowSpec pins the
    * dedup on planted duplicates. Blend/hops/haversine forms are shared
    * with the q13/q14/q22 oracles (Reports.hopsSql / havsSql).
    */
  val peerFlowSql: String = s"""
    WITH raw AS (
      SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal, c_mktsegment
      FROM customer
      WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL),
    unioned AS (
      SELECT * FROM raw
      UNION ALL
      SELECT CAST(-1 AS BIGINT), 'PROSPECT CO', CAST(0 AS INTEGER), CAST(NULL AS DOUBLE), 'BUILDING'),
    imp AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             COALESCE(acctbal, (SELECT median(acctbal) FROM unioned)) AS acctbal_imp
      FROM unioned),
    stats AS (
      SELECT min(acctbal_imp) AS mnb, max(acctbal_imp) AS mxb,
             min(c_nationkey) AS mnn, max(c_nationkey) AS mxn
      FROM imp),
    feat AS (
      SELECT i.*,
             (CASE WHEN s.mxb = s.mnb THEN 0.5
                   ELSE (i.acctbal_imp - s.mnb) / (s.mxb - s.mnb) END) * 0.8 AS fb,
             (CASE WHEN s.mxn = s.mnn THEN 0.5
                   ELSE (i.c_nationkey - s.mnn) / (s.mxn - s.mnn) END) * 0.2 AS fn
      FROM imp i, stats s),
    geo2 AS (
      SELECT f.*,
             CASE WHEN f.c_custkey % 23 = 0 THEN NULL
                  ELSE CAST((f.c_custkey * 13) % 160 - 80 + 0.25 AS DOUBLE) END AS lat,
             CAST((f.c_custkey * 31) % 340 - 170 + 0.5 AS DOUBLE) AS lon,
             substr(md5(f.c_mktsegment), 1, 3) || substr(md5(CAST(f.c_nationkey AS VARCHAR)), 1, 3) AS naics,
             sqrt(f.fb * f.fb + f.fn * f.fn) AS nrm
      FROM feat f),
    unitv AS (
      SELECT g.*,
             CASE WHEN g.nrm = 0.0 THEN g.fb ELSE g.fb / g.nrm END AS ub,
             CASE WHEN g.nrm = 0.0 THEN g.fn ELSE g.fn / g.nrm END AS un
      FROM geo2 g),
    pairs AS (
      SELECT t.c_custkey AS tgt_custkey, s.c_custkey AS src_custkey,
             round((1.0 - 0.399 - 0.001) * (t.ub * s.ub + t.un * s.un)
                   + 0.399 * (${Reports.hopsSql})
                   + 0.001 * (${Reports.havsSql}), 6) AS score
      FROM unitv t JOIN unitv s
        ON t.c_nationkey = s.c_nationkey AND t.c_custkey <> s.c_custkey),
    ranked AS (
      SELECT tgt_custkey, src_custkey, score,
             CAST(row_number() OVER (PARTITION BY tgt_custkey
                                     ORDER BY score DESC, src_custkey) AS INTEGER) AS peer_rank
      FROM pairs)
    SELECT r.tgt_custkey, r.src_custkey, r.score, r.peer_rank,
           c.c_name AS src_name, c.c_mktsegment AS src_segment
    FROM ranked r JOIN customer c ON r.src_custkey = c.c_custkey
    WHERE r.peer_rank <= 15 AND r.score >= 0.0"""

  /** SQL twin of q41: exact-median impute, ml MinMaxScaler algebra
    * ((x-min)/(max-min), constant → 0.5), StringIndexer frequencyDesc
    * label order (ties alphabetical — the documented ml tie-break), OHE
    * slots emitted positionally. The feature vector is compared exploded
    * as (c_custkey, pos, val) scalar rows.
    */
  val featurePipelineSql: String = """
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nation_d
      FROM customer),
    imp AS (
      SELECT c_custkey, c_mktsegment,
             COALESCE(acctbal, (SELECT median(acctbal) FROM base)) AS bal_i,
             COALESCE(nation_d, (SELECT median(nation_d) FROM base)) AS nat_i
      FROM base),
    seg AS (
      SELECT c_mktsegment,
             CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS DOUBLE) AS seg_idx
      FROM base GROUP BY c_mktsegment),
    stats AS (
      SELECT min(bal_i) AS mnb, max(bal_i) AS mxb, min(nat_i) AS mnn, max(nat_i) AS mxn
      FROM imp),
    scaled AS (
      SELECT i.c_custkey, s.seg_idx,
             (CASE WHEN t.mxb = t.mnb THEN 0.5 ELSE (i.bal_i - t.mnb) / (t.mxb - t.mnb) END) * 0.8 AS w_bal,
             (CASE WHEN t.mxn = t.mnn THEN 0.5 ELSE (i.nat_i - t.mnn) / (t.mxn - t.mnn) END) * 0.2 AS w_nat
      FROM imp i JOIN seg s USING (c_mktsegment), stats t),
    positions AS (
      -- 2 numeric slots + one OHE slot per label + the StringIndexer(keep)
      -- unseen-label slot (always 0.0 here: every segment is seen at fit).
      SELECT CAST(unnest(range(3 + (SELECT count(*) FROM seg))) AS INTEGER) AS pos)
    SELECT c_custkey, pos,
           round(CASE WHEN pos = 0 THEN w_bal
                      WHEN pos = 1 THEN w_nat
                      WHEN seg_idx = pos - 2 THEN 0.05
                      ELSE 0.0 END, 6) AS val
    FROM scaled, positions"""

  /** The q40 ALS pipeline up to rounded top-5 recommendations. */
  private def alsRecs(spark: SparkSession, dir: String): DataFrame = {
    // Item universe is brand-level (FIXTURES.md: products ≈ part ⋈
    // lineitem), matching the reference's SKU-scale item space.
    // No broadcast hint on `part` (scale-growing); AQE broadcasts it
    // while it fits and degrades to a shuffle join at 100 TB.
    val usage = T(spark, dir, "orders")
      .join(T(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(T(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("item"))
      .agg(sum(col("l_quantity")).as("intensity"))
    // Cached across indexedTriples' two passes and train's reads of the
    // triples; released right after the eager fit materializes the
    // factors (the factors are what recommendationsDirect reads — the
    // ratings never re-execute).
    val rated = AlsPipeline.accumulate(usage, "cust", "item", "intensity").cache()
    val triples = AlsPipeline.indexedTriples(rated, "cust", "item")
    // The brand-level item space (25 items × rank 15) takes train's
    // fused path: one job per iteration. MEMORY_ONLY for its grouped
    // ratings: an override of the spill-safe library default, since
    // this local run is memory-sized.
    val model = AlsPipeline.train(triples,
      AlsPipeline.Config(intermediateStorage = "MEMORY_ONLY"))
    rated.unpersist(blocking = false)
    // Direct path: the brand item space fits a task closure, so
    // blockified recommendForAllUsers is pure overhead (see
    // recommendationsDirect; MlSpec pins score parity between the two).
    AlsPipeline.recommendationsDirect(model, 5)
      .select(col("userId"), col("itemId"), round(col("score"), 3).as("score"),
        col("rec_rank"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ALS end-to-end: usage triples (customer × part-brand intensity) →
    // surrogate ids → implicit ALS → top-5 recs per user. Factor values
    // are not SQL-reproducible (MlSpec pins score parity and planted
    // structure instead), but the pipeline's STRUCTURE is, exactly:
    // every user with >=1 usage row gets exactly 5 recommendations
    // (n_users replayed from the base join), ranks run 1..5, recommended
    // items are distinct per user, and every score is a finite non-null
    // double.
    QueryDef("q40_als_recommend", Some("""
      WITH u AS (SELECT DISTINCT o_custkey FROM orders
                 JOIN lineitem ON o_orderkey = l_orderkey)
      SELECT CAST((SELECT count(*) FROM u) * 5 AS BIGINT) AS n_rows,
             CAST((SELECT count(*) FROM u) AS BIGINT) AS n_users,
             5 AS min_per_user, 5 AS max_per_user,
             1 AS items_distinct,
             1 AS min_rank, 5 AS max_rank,
             CAST(0 AS BIGINT) AS n_bad_score"""),
      (spark, dir) => {
        val recs = alsRecs(spark, dir)
        val perUser = recs.groupBy("userId").agg(
          count(lit(1)).as("c"),
          countDistinct(col("itemId")).as("di"),
          min(col("rec_rank")).as("mnr"), max(col("rec_rank")).as("mxr"),
          sum(when(col("score").isNull || isnan(col("score")) ||
              abs(col("score")) === lit(Double.PositiveInfinity), 1L)
            .otherwise(0L)).as("bad"))
        perUser.agg(
          sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_users"),
          min(col("c")).cast("int").as("min_per_user"),
          max(col("c")).cast("int").as("max_per_user"),
          min(when(col("di") === col("c"), 1).otherwise(0)).as("items_distinct"),
          min(col("mnr")).cast("int").as("min_rank"),
          max(col("mxr")).cast("int").as("max_rank"),
          sum(col("bad")).as("n_bad_score"))
      }),

    // Reference flagship §3.1 end-to-end: clean → literal prospect →
    // dedup → one eager median + bounds pass → weighted features →
    // blended similarity → top-K → report. Full hash oracle
    // (peerFlowSql).
    QueryDef("q44_peer_search_flow", Some(peerFlowSql), (spark, dir) =>
      graft.flows.PeerSearchFlow.run(spark, dir)),

    // Feature pipeline end-to-end: nulls injected → exact-median impute →
    // string-index + OHE → min-max scale → weighted assembly. The
    // features vector is exploded to scalar (pos, val) rows so the oracle
    // compares native doubles instead of engine-specific array/string
    // renderings.
    QueryDef("q41_feature_pipeline", Some(featurePipelineSql), (spark, dir) => {
      val withNulls = T(spark, dir, "customer")
        .withColumn("acctbal",
          when(col("c_custkey") % 37 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")))
        .withColumn("nation_d", col("c_nationkey").cast("double"))
      val out = FeaturePipeline.build(withNulls,
        numCols = Seq("acctbal", "nation_d"), catCol = "c_mktsegment",
        weights = Map("acctbal" -> 0.8, "nation_d" -> 0.2), wCat = 0.05,
        exactMedian = true)
      out.select(col("c_custkey"),
        posexplode(transform(col("features_arr"), v => round(v, 6))).as(Seq("pos", "val")))
    }),

    // Deterministic negative sampling for implicit-feedback training
    // (the BPR/contrastive data-prep step): per observed (customer,
    // part) interaction, K candidate negatives drawn by a Knuth
    // multiplicative mix over (customer, k) modulo the part-key space —
    // plain integer arithmetic, so the draw is a pure function of the
    // data (partitioning-independent, identically replayable in SQL;
    // xxhash64 would be the production mix but has no DuckDB twin).
    // Candidates colliding with ANY of the user's positives are dropped
    // by one anti-join (so real negatives only, count ≤ K per pair —
    // the standard rejection-free approximation); duplicates from
    // colliding k draws collapse via DISTINCT. Users sampled % 100 to
    // bound the demo output; the plan is two hash joins on (user, part)
    // — no per-row randomness, no driver state, 100 TB-safe.
    QueryDef("q136_negative_sampling", Some("""
      WITH pos AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS part_key
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey % 100 = 0),
      np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM part),
      cand AS (
        SELECT DISTINCT user_id,
               (user_id * 2654435761 + k * 40507) % np AS part_key
        FROM pos CROSS JOIN np,
             unnest([0, 1, 2, 3]) AS u(k)),
      neg AS (
        SELECT c.user_id, c.part_key FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.user_id = c.user_id AND p.part_key = c.part_key))
      SELECT user_id, part_key, 1 AS label FROM pos
      UNION ALL
      SELECT user_id, part_key, 0 AS label FROM neg"""),
      (spark, dir) => {
        val pos = T(spark, dir, "lineitem")
          .join(T(spark, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_custkey") % 100 === 0)
          .select(col("o_custkey").as("user_id"), col("l_partkey").as("part_key"))
          .distinct()
        val np = T(spark, dir, "part").agg(count(lit(1)).as("np"))
        val cand = pos.crossJoin(broadcast(np))
          .select(col("user_id"),
            explode(sequence(lit(0), lit(3))).as("k"), col("np"))
          .select(col("user_id"),
            ((col("user_id") * lit(2654435761L) + col("k") * lit(40507L)) % col("np"))
              .as("part_key"))
          .distinct()
        val neg = cand.join(pos, Seq("user_id", "part_key"), "left_anti")
        pos.select(col("user_id"), col("part_key"), lit(1).as("label"))
          .unionByName(neg.select(col("user_id"), col("part_key"), lit(0).as("label")))
      }),

    // Item-item co-occurrence recommendation (market-basket): parts
    // co-ordered in the same order, scored by lift and Jaccard, top-5
    // neighbors per part — the classic non-factorized complement to ALS
    // (q40) that needs no training and explains its output ("bought
    // together"). The pair space is Σ_order lines², bounded by lines
    // per order (~4), NOT corpus size; per-part top-K is a group-limit
    // window. Lift/jaccard are single divisions of exact integer
    // counts; the global order count is a broadcast one-row aggregate.
    QueryDef("q157_item_cooccurrence", Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      n AS (SELECT count(DISTINCT o) AS n_orders FROM li),
      cnt AS (SELECT p, count(*) AS c FROM li GROUP BY p),
      pairs AS (SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
                GROUP BY a.p, b.p),
      sym AS (SELECT pa, pb, n_ab FROM pairs
              UNION ALL SELECT pb, pa, n_ab FROM pairs),
      sc AS (SELECT s.pa, s.pb, s.n_ab,
                    CAST(s.n_ab AS DOUBLE) * n.n_orders / (ca.c * cb.c) AS lift,
                    CAST(s.n_ab AS DOUBLE) / (ca.c + cb.c - s.n_ab) AS jaccard
             FROM sym s JOIN cnt ca ON s.pa = ca.p JOIN cnt cb ON s.pb = cb.p
             CROSS JOIN n)
      SELECT pa AS part_key, pb AS rec_part, CAST(n_ab AS INTEGER) AS n_co,
             round(lift, 6) AS lift, round(jaccard, 6) AS jaccard,
             CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY pa
                        ORDER BY n_ab DESC, lift DESC, pb) AS rnk FROM sc)
      WHERE rnk <= 5"""),
      (spark, dir) => {
        val li = T(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val n = li.agg(countDistinct(col("o")).as("n_orders"))
        val cnt = li.groupBy("p").agg(count(lit(1)).as("c"))
        // hub-guarded pair space (ops.Cooccur): plain self-join under the
        // threshold — TPC-H orders are ~4 lines — fragment-replicate above
        val pairs = graft.ops.Cooccur.groupPairs(li, "o", "p")
          .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
        val sym = pairs.unionByName(pairs.select(col("pb").as("pa"),
          col("pa").as("pb"), col("n_ab")))
        val sc = sym
          .join(cnt.select(col("p").as("pa"), col("c").as("ca")), "pa")
          .join(cnt.select(col("p").as("pb"), col("c").as("cb")), "pb")
          .crossJoin(broadcast(n))
          .select(col("pa"), col("pb"), col("n_ab"),
            (col("n_ab").cast("double") * col("n_orders") / (col("ca") * col("cb"))).as("lift"),
            (col("n_ab").cast("double") / (col("ca") + col("cb") - col("n_ab"))).as("jaccard"))
        graft.ops.TopK.exactPerKey(sc, Seq("pa"),
            Seq(col("n_ab").desc, col("lift").desc, col("pb").asc), 5, "rnk")
          .select(col("pa").as("part_key"), col("pb").as("rec_part"),
            col("n_ab").cast("int").as("n_co"),
            round(col("lift"), 6).as("lift"), round(col("jaccard"), 6).as("jaccard"),
            col("rnk").cast("int").as("rnk"))
      }),

    // Sequential purchase patterns (the temporal sibling of q157/q196's
    // same-basket rules, AprioriAll's 2-sequences): part A in a
    // STRICTLY EARLIER order than part B for the same customer,
    // supported by >= 3 distinct customers. The pair space is bounded
    // per customer by (orders x lines)^2 — activity-bounded, not
    // corpus-bounded; a pathological hub customer routes through the
    // q140 skew profile like the co-occurrence family (SCALE.md). All
    // counts exact integers.
    QueryDef("q215_sequential_patterns", Some("""
      WITH li AS (SELECT DISTINCT o.o_custkey AS c, o.o_orderdate AS d,
                                  l.l_partkey AS p
                  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      sp AS (SELECT DISTINCT a.c, a.p AS pa, b.p AS pb
             FROM li a JOIN li b ON a.c = b.c AND a.d < b.d AND a.p <> b.p)
      SELECT pa AS antecedent, pb AS consequent,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM sp GROUP BY 1, 2 HAVING count(*) >= 3"""),
      (spark, dir) => {
        val li = T(spark, dir, "lineitem")
          .join(T(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("o_orderdate").as("d"),
            col("l_partkey").as("p"))
        // span-reduced hub-guarded pairs (ops.Cooccur.spanGroupPairs):
        // "∃ earlier purchase of A than a purchase of B" is exactly
        // min_date(A) < max_date(B), so the pair join runs over ONE
        // row per (customer, part) and each qualifying pair emits
        // once — no pair-cardinality distinct shuffle at all (it was
        // this query's dominant exchange). The hub guard still
        // spreads a pathological customer over salts reducers.
        val sp = graft.ops.Cooccur.spanGroupPairs(li, "c", "d", "p")
        sp.groupBy(col("pa").as("antecedent"), col("pb").as("consequent"))
          .agg(count(lit(1)).as("n_customers"))
          .filter(col("n_customers") >= 3)
      }),

    // Hashing-trick featurization (Weinberger 2009) — the fit-free
    // counterpart of q41's StringIndexer/OneHotEncoder: no vocabulary
    // pass, no fitted-model broadcast; (feature,value) pairs land in 64
    // signed hash buckets via the engine's md5 rank (reproducible in any
    // engine, unlike murmur3 hash()). Output is the sparse vector rows.
    QueryDef("q171_feature_hashing", Some("""
      WITH kv AS (
        SELECT c_custkey, 'c_mktsegment' AS f, c_mktsegment AS v FROM customer
        UNION ALL
        SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer),
      h AS (SELECT c_custkey,
              (('0x' || substr(md5(f || '=' || v), 1, 15))::BIGINT % 1000003 + 1) % 64 AS bucket,
              (('0x' || substr(md5('s:' || f || '=' || v), 1, 15))::BIGINT % 1000003 + 1) % 2 * 2 - 1 AS sign
            FROM kv)
      SELECT c_custkey, CAST(bucket AS INTEGER) AS bucket,
             CAST(sum(sign) AS BIGINT) AS w
      FROM h GROUP BY c_custkey, bucket"""),
      (spark, dir) =>
        graft.feature.HashEncoder.hashFeatures(
          T(spark, dir, "customer"), "c_custkey",
          Seq("c_mktsegment", "c_nationkey"), dim = 64)),

    // Leave-one-out target encoding — categorical→numeric with the
    // standard leakage guard (a row's own label never enters its
    // feature): order priority encoded by the mean total price of the
    // OTHER orders sharing it. Group sums run in exact decimal cents —
    // no float accumulation order for the engines to disagree on — with
    // one final rounded division.
    QueryDef("q172_target_encoding", Some("""
      WITH j AS (SELECT o_orderkey, o_orderpriority,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM orders),
      w AS (SELECT *, sum(cents) OVER (PARTITION BY o_orderpriority) AS s,
                   count(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM j)
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN n > 1
                  THEN round(CAST(s - cents AS DOUBLE) / (100.0 * (n - 1)), 6)
             END AS loo_enc
      FROM w"""),
      (spark, dir) =>
        graft.feature.HashEncoder.looTargetEncode(
          T(spark, dir, "orders"), "o_orderkey", "o_orderpriority", "o_totalprice")),

    // Recency-weighted item co-occurrence — q157 with a half-life: each
    // order contributes weight 2^(−⌊age/180d⌋) (clamped at 7 half-lives),
    // so stale baskets fade from the recommendations. The weights are
    // DYADIC RATIONALS m/128 by construction, which makes the weighted
    // sums EXACT doubles — no accumulation-order dependence to round
    // away, and the oracle hash-checks the raw scores. "Now" is the
    // corpus' own max order date (pure function of the data).
    QueryDef("q184_decayed_cooccur", Some("""
      WITH nowd AS (SELECT max(o_orderdate) AS mx FROM orders),
      ow AS (SELECT o_orderkey AS o,
                    1.0 / CAST(1 << CAST(least(date_diff('day', o_orderdate, mx) // 180, 7) AS INTEGER) AS DOUBLE) AS w
             FROM orders, nowd),
      li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      pairs AS (SELECT a.p AS pa, b.p AS pb,
                       CAST(count(*) AS BIGINT) AS n_ab, sum(w) AS wsum
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
                JOIN ow ON ow.o = a.o
                GROUP BY a.p, b.p),
      sym AS (SELECT pa, pb, n_ab, wsum FROM pairs
              UNION ALL SELECT pb, pa, n_ab, wsum FROM pairs)
      SELECT pa AS part_key, pb AS rec_part, n_ab AS n_co,
             round(wsum, 6) AS w_co, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY pa
                        ORDER BY wsum DESC, n_ab DESC, pb) AS rnk FROM sym)
      WHERE rnk <= 5"""),
      (spark, dir) => {
        val orders = T(spark, dir, "orders")
        val nowd = orders.agg(max(col("o_orderdate")).as("mx"))
        val ow = orders.crossJoin(broadcast(nowd))
          .select(col("o_orderkey").as("o"),
            // 2^-k with k integral: both engines produce the exact dyadic
            (lit(1.0) / pow(lit(2.0),
              least(floor(datediff(col("mx"), col("o_orderdate")) / 180), lit(7L))
                .cast("double"))).as("w"))
        val li = T(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val pairs = li.select(col("o"), col("p").as("pa"))
          .join(li.select(col("o"), col("p").as("pb")), "o")
          .filter(col("pa") < col("pb"))
          .join(ow, "o")
          .groupBy("pa", "pb")
          .agg(count(lit(1)).as("n_ab"), sum(col("w")).as("wsum"))
        val sym = pairs.unionByName(pairs.select(col("pb").as("pa"),
          col("pa").as("pb"), col("n_ab"), col("wsum")))
        graft.ops.TopK.exactPerKey(sym, Seq("pa"),
            Seq(col("wsum").desc, col("n_ab").desc, col("pb").asc), 5, "rnk")
          .select(col("pa").as("part_key"), col("pb").as("rec_part"),
            col("n_ab").as("n_co"), round(col("wsum"), 6).as("w_co"),
            col("rnk").cast("int").as("rnk"))
      }),

    // Recommender holdout evaluation — hit@5 of the co-occurrence
    // recommender under a leave-one-out protocol: per multi-item
    // basket, the max-key item is held out, co-occurrence trains on the
    // REMAINING items only (no test co-occurrence leaks into the
    // model), and each basket's held-out item is looked for in the
    // top-5 scored by summed co-counts over the basket's train items.
    // Scoring is all-integer (summed counts, total-order tiebreaks) —
    // no float anywhere. Complements the retrieval metrics (recall/
    // MRR/NDCG, q137/q153/q138) with the recommender-side evaluation.
    QueryDef("q185_rec_hit_rate", Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      sz AS (SELECT o, count(*) AS n, max(p) AS held FROM li GROUP BY o),
      mult AS (SELECT o, held FROM sz WHERE n >= 2),
      tr AS (SELECT li.o, li.p FROM li JOIN mult ON li.o = mult.o AND li.p <> mult.held),
      pairs AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
                FROM tr a JOIN tr b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sym AS (SELECT pa, pb, c FROM pairs UNION ALL SELECT pb, pa, c FROM pairs),
      cand AS (SELECT t.o, s.pb AS c_item, CAST(sum(s.c) AS BIGINT) AS score
               FROM tr t JOIN sym s ON t.p = s.pa GROUP BY t.o, s.pb),
      cand2 AS (SELECT cand.o, cand.c_item, cand.score
                FROM cand LEFT JOIN tr ON tr.o = cand.o AND tr.p = cand.c_item
                WHERE tr.p IS NULL),
      rk AS (SELECT o, c_item, score,
                    row_number() OVER (PARTITION BY o ORDER BY score DESC, c_item) AS rnk
             FROM cand2)
      SELECT m.o AS order_key, m.held AS held_item,
             CAST(r.rnk AS INTEGER) AS hit_rank, r.rnk IS NOT NULL AS hit
      FROM mult m LEFT JOIN rk r
        ON r.o = m.o AND r.c_item = m.held AND r.rnk <= 5"""),
      (spark, dir) => {
        val li = T(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val mult = li.groupBy("o")
          .agg(count(lit(1)).as("n"), max(col("p")).as("held"))
          .filter(col("n") >= 2).select("o", "held")
        val tr = li.join(mult, "o").filter(col("p") =!= col("held"))
          .select("o", "p")
        val pairs = tr.select(col("o"), col("p").as("pa"))
          .join(tr.select(col("o"), col("p").as("pb")), "o")
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
        val sym = pairs.unionByName(
          pairs.select(col("pb").as("pa"), col("pa").as("pb"), col("c")))
        val cand = tr.join(sym, col("p") === col("pa"))
          .groupBy(col("o"), col("pb").as("c_item"))
          .agg(sum(col("c")).as("score"))
        val cand2 = cand.join(
          tr.select(col("o"), col("p").as("c_item")), Seq("o", "c_item"), "left_anti")
        val rk = graft.ops.TopK.exactPerKey(cand2, Seq("o"),
          Seq(col("score").desc, col("c_item").asc), 5, "rnk")
        mult.join(
            rk.select(col("o"), col("c_item").as("held"), col("rnk")),
            Seq("o", "held"), "left")
          .select(col("o").as("order_key"), col("held").as("held_item"),
            col("rnk").cast("int").as("hit_rank"), col("rnk").isNotNull.as("hit"))
      }),

    // Association RULES with minimum support — the Apriori level-2
    // semantics on top of q157's pair counts: directed rules pa→pb with
    // support (basket share), confidence (n_ab / baskets containing
    // pa) and lift, kept only above an integer min-support count (no
    // float threshold boundary to straddle). The rule mining every
    // cross-sell engine starts from; pair space stays bounded per
    // basket, never item².
    QueryDef("q196_association_rules", Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
      cnt AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY p),
      pairs AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2 HAVING count(*) >= 3),
      rules AS (SELECT pa, pb, n_ab FROM pairs
                UNION ALL SELECT pb, pa, n_ab FROM pairs)
      SELECT r.pa AS antecedent, r.pb AS consequent, r.n_ab,
             round(CAST(r.n_ab AS DOUBLE) / n.n_orders, 6) AS support,
             round(CAST(r.n_ab AS DOUBLE) / ca.c, 6) AS confidence,
             round(CAST(r.n_ab AS DOUBLE) * n.n_orders / (ca.c * cb.c), 6) AS lift
      FROM rules r JOIN cnt ca ON r.pa = ca.p JOIN cnt cb ON r.pb = cb.p
      CROSS JOIN n"""),
      (spark, dir) => {
        val li = T(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val n = li.agg(countDistinct(col("o")).as("n_orders"))
        val cnt = li.groupBy("p").agg(count(lit(1)).as("c"))
        val pairs = graft.ops.Cooccur.groupPairs(li, "o", "p")
          .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        val rules = pairs.unionByName(
          pairs.select(col("pb").as("pa"), col("pa").as("pb"), col("n_ab")))
        rules
          .join(cnt.select(col("p").as("pa"), col("c").as("ca")), "pa")
          .join(cnt.select(col("p").as("pb"), col("c").as("cb")), "pb")
          .crossJoin(broadcast(n))
          .select(col("pa").as("antecedent"), col("pb").as("consequent"),
            col("n_ab"),
            round(col("n_ab").cast("double") / col("n_orders"), 6).as("support"),
            round(col("n_ab").cast("double") / col("ca"), 6).as("confidence"),
            round(col("n_ab").cast("double") * col("n_orders")
              / (col("ca") * col("cb")), 6).as("lift"))
      }),

    // A-priori frequent TRIPLES over customer baskets (ops.Itemsets —
    // level-wise with full downward-closure pruning, exact by the
    // closure property). Baskets are customers (all parts a customer
    // ever ordered): larger baskets than q157's per-order view, which
    // is exactly the regime where candidate pruning matters — the
    // oracle replays the identical level-wise CTEs, so pruning
    // correctness IS the hash gate. minSupport = 3 customers.
    QueryDef("q259_frequent_triples", Some("""
      WITH b AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      f1 AS (SELECT p FROM b GROUP BY p HAVING count(*) >= 3),
      bf AS (SELECT c, p FROM b WHERE p IN (SELECT p FROM f1)),
      f2 AS (SELECT x.p AS pa, y.p AS pb
             FROM bf x JOIN bf y ON x.c = y.c AND x.p < y.p
             GROUP BY 1, 2 HAVING count(*) >= 3),
      cand AS (SELECT p2.pa, p2.pb, p3.pb AS pc
               FROM f2 p2 JOIN f2 p3 ON p2.pb = p3.pa
               WHERE EXISTS (SELECT 1 FROM f2 q
                             WHERE q.pa = p2.pa AND q.pb = p3.pb)),
      tri AS (SELECT t.pa, t.pb, t.pc, count(*) AS support
              FROM cand t
              JOIN bf x ON x.p = t.pa
              WHERE EXISTS (SELECT 1 FROM bf y WHERE y.c = x.c AND y.p = t.pb)
                AND EXISTS (SELECT 1 FROM bf z WHERE z.c = x.c AND z.p = t.pc)
              GROUP BY 1, 2, 3 HAVING count(*) >= 3)
      SELECT pa, pb, pc, CAST(support AS INTEGER) AS support FROM tri"""),
      (spark, dir) => {
        val baskets = T(spark, dir, "lineitem")
          .join(T(spark, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        graft.ops.Itemsets.frequentTriples(baskets, "c", "p", minSupport = 3)
      }),

    // AUC-ROC (tie-corrected Mann–Whitney rank sum) + KS statistic for
    // a binary scorer (ops.Eval.aucKs): does discount "predict"
    // returns. Deliberately tie-HEAVY (11 distinct discounts over 600k
    // rows) — average-rank tie correction is the thing being gated.
    // All rank math is integer (exclusive prefix sums over the
    // score-grouped frame); the only floats are the two final
    // divisions, so the oracle matches bit-for-bit.
    QueryDef("q260_auc_ks", Some("""
      WITH d AS (SELECT l_discount AS s, (l_returnflag = 'R') AS y FROM lineitem),
      g AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
            FROM d GROUP BY s),
      p AS (SELECT s, n, np,
              CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS pn,
              CAST(coalesce(sum(np) OVER w, 0) AS BIGINT) AS pp
            FROM g
            WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      t AS (SELECT CAST(sum(np) AS BIGINT) AS pos,
                   CAST(sum(n - np) AS BIGINT) AS neg,
                   CAST(sum(np * (2 * pn + n + 1)) AS BIGINT) AS two_u_plus
            FROM p),
      k AS (SELECT CAST(max(abs((pp + np) * t.neg - (pn + n - pp - np) * t.pos)) AS BIGINT) AS ks_num
            FROM p CROSS JOIN t)
      SELECT pos AS n_pos, neg AS n_neg,
             round(CAST(two_u_plus - pos * (pos + 1) AS DOUBLE) / (2.0 * pos * neg), 6) AS auc,
             round(CAST(ks_num AS DOUBLE) / (1.0 * pos * neg), 6) AS ks
      FROM t CROSS JOIN k"""),
      (spark, dir) => {
        val d = T(spark, dir, "lineitem")
          .select(col("l_discount").as("s"),
            (col("l_returnflag") === "R").as("y"))
        graft.ops.Eval.aucKs(d, "s", "y")
      })
  )
}
