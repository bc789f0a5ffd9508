package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed sampling.
  *
  * Spark's `sample`/`randomSplit` are seed-reproducible only for a fixed
  * partitioning; these operators derive their randomness from a hash of
  * the row's key instead, so the selection is a pure function of the
  * DATA — stable across partitionings, engines, and runs (and therefore
  * SQL-oracle-able).
  */
object Sampling {

  /** Hash-derived uniform in (0, 1): the first 60 bits of md5(key),
    * folded mod 1000003 (same value as
    * `('0x' || substr(md5(key), 1, 15))::BIGINT % 1000003` in DuckDB).
    */
  def hashUniform(key: Column): Column =
    hashRank(key).cast("double") / 1000004.0

  /** Deterministic integer rank in [1, 1000003]: the first 60 bits of
    * md5(key) folded mod 1000003 (DuckDB:
    * `('0x' || substr(md5(key), 1, 15))::BIGINT % 1000003 + 1`).
    * Integer form of [[hashUniform]] — exact to order by, no float
    * boundary.
    */
  def hashRank(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % 1000003L + 1L

  /** Efraimidis-Spirakis weighted sampling without replacement: row i
    * wins with probability proportional to `weight` via the key
    * `ln(u_i) / w_i` (maximized); the s winners are found with a
    * distributed TakeOrdered (per-partition top-s heaps, no shuffle of
    * the losers). `weight` must be strictly positive.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, s: Int): DataFrame = {
    val key = log(hashUniform(col(idCol))) / weight
    df.withColumn("__skey", key)
      .orderBy(col("__skey").desc, col(idCol).asc)
      .limit(s)
      .drop("__skey")
  }

  /** Per-stratum Efraimidis-Spirakis: an independent weighted
    * without-replacement sample of `k` rows from EACH stratum (the
    * "best k per domain, quality-biased but still random" curation
    * shape — [[stratifiedSample]] mixes by RATE, this by QUOTA with
    * weight bias). Same ln(u)/w key as [[weightedSample]]; winners by
    * per-stratum rank, so the plan is one window partitioned by the
    * stratum (shuffle on stratum keys, per-stratum cost bounded by
    * stratum size — the q152 exact-quota shape). Selection stays a
    * pure function of (id, weight): partitioning-independent,
    * engine-replayable.
    */
  def weightedSampleByStratum(df: DataFrame, idCol: String,
                              strataCol: String, weight: Column,
                              k: Int): DataFrame = {
    val key = log(hashUniform(col(idCol))) / weight
    TopK.exactPerKey(df.withColumn("__skey", key), Seq(strataCol),
        Seq(col("__skey").desc, col(idCol).asc), k, "__rk")
      .drop("__skey", "__rk")
  }

  /** Stratified deterministic sampling — the training-data MIXING step:
    * keep each row with the rate configured for its stratum (domain /
    * source / language), unlisted strata at `defaultRate`. The rates ride
    * a broadcast literal table so the mixing recipe is data, not code
    * (swap recipes without re-planning), and selection is a pure function
    * of the row id: re-runs, re-partitions, and per-stratum audits all
    * see the same sample. One broadcast-hash join + one filter — no
    * shuffle of the corpus.
    */
  /** Token-budget mixing — the absolute-quota variant of
    * [[stratifiedSample]]: per stratum, keep the hash-random prefix of
    * rows whose running `amount` total stays within `budget` (a corpus
    * recipe like "2B tokens of web, 500M of code" rather than rates).
    * Row order inside a stratum is (hashRank(id), id) — deterministic,
    * partitioning-independent, and uniformly random w.r.t. the data, so
    * the kept set is an unbiased budget-capped sample. The running
    * total is appended as `cumCol`.
    *
    * Scale note: the per-stratum running sum is a partitioned window —
    * parallelism equals the stratum count, and one giant stratum
    * serializes into a single window task. For the handful-of-domains
    * mixing recipe this is the right trade; a million-row single
    * stratum would call for [[graft.ops.PrefixSum]] per stratum
    * instead.
    */
  def budgetSample(df: DataFrame, idCol: String, strataCol: String,
                   amount: Column, budget: Long, cumCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(hashRank(col(idCol)), col(idCol))
      .rowsBetween(Long.MinValue, 0)
    df.withColumn(cumCol, sum(amount).over(w))
      .filter(col(cumCol) <= budget)
  }

  /** LEAKAGE-SAFE train/eval split: near-duplicate documents must land
    * on the SAME side, or the eval set "tests" paraphrases of training
    * rows and the measured loss is contaminated. Near-dup `edges` become
    * connected components ([[ConnectedComponents]] min-id labels); the
    * CLUSTER — not the document — is the unit of assignment, decided by
    * the md5 integer rank of the cluster root: `hashRank(root) <=
    * floor(evalFraction · 1000003)` sends the whole cluster to eval.
    * Exact integer comparison (no float boundary), pure function of the
    * data — re-runs, re-partitionings, and other engines agree row for
    * row. Docs in no edge are their own singleton cluster.
    *
    * Scale shape: one component pass over the EDGE list (a sliver, the
    * point of LSH candidates), one left join back to the corpus, one
    * md5 per cluster root — the corpus itself never shuffles beyond the
    * root join.
    *
    * @return df plus (root, split) columns, split in {'train','eval'}
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, edges: DataFrame,
                       srcCol: String, dstCol: String,
                       evalFraction: Double): DataFrame = {
    val threshold = math.floor(evalFraction * 1000003).toLong
    val comps = ConnectedComponents.labelPropagation(edges, srcCol, dstCol)
      .withColumnRenamed("node", idCol)
    df.join(comps, Seq(idCol), "left")
      .withColumn("root", coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
      .withColumn("split",
        when(hashRank(col("root")) <= threshold, "eval").otherwise("train"))
  }

  /** Temperature-based domain REBALANCING — the multilingual-corpus
    * standard (the p^α schedule of mBERT/XLM-R/mT5 data mixing): strata
    * are resampled toward `share^alpha` (renormalized), so low-resource
    * domains keep more of their data and dominant domains are
    * downsampled. Unlike [[stratifiedSample]], the rates are LEARNED
    * from the corpus itself:
    *
    *   p_s   = n_s / N                    (observed share)
    *   q_s   = p_s^α / Σ_t p_t^α          (target share)
    *   rate_s = (q_s / p_s) / max_t(q_t / p_t)   (most-boosted stratum keeps all)
    *
    * `alpha = 1` is a no-op (every rate 1), `alpha = 0` equalizes
    * expected counts. Selection is the same pure-hash Bernoulli as the
    * other samplers — stable under re-partitioning and oracle-able; the
    * rate is rounded to 9 dp so both engines filter on the identical
    * double. Plan shape: one stats aggregation over the corpus (a
    * handful of rows), scalar cross-joins that all broadcast, then one
    * broadcast join + filter over the corpus — two scans total, no
    * corpus shuffle.
    *
    * @return input rows that survive, plus the stratum `rate` column
    */
  def temperatureResample(df: DataFrame, idCol: String, strataCol: String,
                          alpha: Double): DataFrame = {
    val c = df.groupBy(strataCol).agg(count(lit(1)).cast("double").as("n"))
    val tot = c.agg(sum(col("n")).as("nn"))
    val w = c.crossJoin(broadcast(tot))
      .withColumn("pa", pow(col("n") / col("nn"), alpha))
    val z = w.agg(sum(col("pa")).as("zpa"))
    val r = w.crossJoin(broadcast(z))
      .withColumn("boost", (col("pa") / col("zpa")) / (col("n") / col("nn")))
    val mr = r.agg(max(col("boost")).as("mb"))
    val rate = r.crossJoin(broadcast(mr))
      .select(col(strataCol), round(col("boost") / col("mb"), 9).as("rate"))
    df.join(broadcast(rate), Seq(strataCol))
      .filter(hashUniform(col(idCol)) < col("rate"))
  }

  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rateTable = rates.toSeq.toDF(strataCol, "__rate")
    df.join(broadcast(rateTable), Seq(strataCol), "left")
      .filter(hashUniform(col(idCol)) < coalesce(col("__rate"), lit(defaultRate)))
      .drop("__rate")
  }
}
