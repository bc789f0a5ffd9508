package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Poisson bootstrap — the single-pass, resample-free bootstrap for
  * massive data (Chamandy, Muralidharan, Najmi & Naidu, "Estimating
  * Uncertainty for Massive Data Streams", Google 2012; the streaming
  * special case of Kleiner et al.'s Bag of Little Bootstraps). The
  * classical bootstrap redraws n rows WITH replacement B times — B full
  * shuffles of the corpus. The Poisson form observes that each row's
  * multiplicity in a resample is Binomial(n, 1/n) ≈ Poisson(1), so B
  * replicate aggregates ride ONE pass: every row contributes a
  * deterministic Poisson(1) weight per replicate, and each replicate is
  * a weighted aggregate keyed by its replicate id — B counters per
  * group, map-side combined, never a data reshuffle.
  *
  * Determinism discipline: the Poisson draw inverts the CDF on
  * [[Sampling.hashRank]]'s md5-derived integer rank (uniform on
  * [1, 1000003]) against PRE-SCALED integer thresholds, so the weight
  * is a pure function of (row id, replicate id) that any SQL engine
  * replays bit-identically — no RNG, no partition dependence. Replicate
  * statistics stay in exact integer fixed point: a mean is computed as
  * `(s + n·OffsetFp) div n − OffsetFp` (numerator forced positive so
  * floor-division agrees across engines even for negative means), and
  * the percentile CI picks exact ranks of the replicate distribution —
  * no float enters until the final display rounding.
  */
object Bootstrap {

  /** Cumulative Poisson(1) probabilities scaled by hashRank's modulus
    * 1000003 (`round(cdf_k · 1000003)`, k = 0..7): a rank r maps to
    * weight = #{k : r > T_k}, capping the tail at 8 (P ≈ 10⁻⁵).
    */
  val PoissonThresholds: Seq[Long] =
    Seq(367881L, 735761L, 919701L, 981015L, 996343L, 999409L, 999920L, 999993L)

  /** Fixed-point offset (10⁴ units at 10⁶ fp/unit) added per-count to
    * mean numerators so floor division only ever sees positive values:
    * `s + n·OffsetFp = n·(mean + OffsetFp) > 0` whenever every row's
    * value exceeds −OffsetFp (nonnegative metrics satisfy it trivially;
    * signed ones must stay above −10⁴ units). Overflow headroom: with
    * w ≤ 8 the sum magnitude is ≤ 8·n·max|v|, inside Long for any
    * realistic (n, fixed-point scale) pairing — callers at extreme
    * scales drop the fp resolution, not the offset.
    */
  val OffsetFp: Long = 10000000000L

  /** Deterministic Poisson(1) weight for a (row, replicate) key. */
  private[graft] def poissonWeight(key: Column): Column = {
    val r = Sampling.hashRank(key)
    PoissonThresholds.map(t => when(r > t, 1L).otherwise(0L))
      .reduce(_ + _)
  }

  /** Percentile-bootstrap CI for the difference of means between two
    * arms. Input: one row per unit with an integer id, `armCol` ∈
    * {1, 2}, and an exact integer fixed-point `valueFpCol`. One
    * generate-then-partial-agg pass builds all `reps` replicate sums
    * (shuffle = reps rows per map partition, never the data), exact
    * integer means per replicate, and the CI as the `loRank`-th /
    * `hiRank`-th replicate diff by row_number (ties broken by replicate
    * id — a total order). Replicates where either arm drew zero total
    * weight are dropped on both engines alike (P ≈ e^{−n_arm}).
    *
    * @return single row: n_reps, n1, n2, point_fp, lo_fp, hi_fp (all
    *         exact integers; callers apply display rounding)
    */
  def meanDiffCI(df: DataFrame, idCol: String, armCol: String,
                 valueFpCol: String, reps: Int, loRank: Int,
                 hiRank: Int): DataFrame = {
    val base = df.select(col(idCol).cast("string").as("__id"),
      col(armCol).as("__arm"), col(valueFpCol).cast("long").as("__v"))
    // spread the pre-explode rows across all cores: the generate+hash
    // stage is reps× the input and inherits the INPUT's partitioning —
    // a small parquet arriving in 1-2 splits would run the reps·n md5
    // evaluations nearly single-threaded at every scale (measured: flat
    // 10 s x1→x16 before, ~1 s after). The repartition shuffles only
    // the n base rows, 1/reps of the generated volume.
    val spread = base.repartition(
      base.sparkSession.sessionState.conf.numShufflePartitions)
    val rep = spread
      .select(col("*"),
        explode(sequence(lit(0), lit(reps - 1))).as("__b"))
      .withColumn("__w", poissonWeight(
        concat(col("__id"), lit(":"), col("__b").cast("string"))))
      .groupBy("__b")
      .agg(sum(when(col("__arm") === 1, col("__w") * col("__v"))
            .otherwise(0L)).as("s1"),
        sum(when(col("__arm") === 1, col("__w")).otherwise(0L)).as("n1"),
        sum(when(col("__arm") === 2, col("__w") * col("__v"))
          .otherwise(0L)).as("s2"),
        sum(when(col("__arm") === 2, col("__w")).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("__m1",
        expr(s"(s1 + n1 * $OffsetFp) div n1 - $OffsetFp"))
      .withColumn("__m2",
        expr(s"(s2 + n2 * $OffsetFp) div n2 - $OffsetFp"))
      .withColumn("__d", col("__m1") - col("__m2"))
    // reps rows total: the single-partition window is the cheap part
    val byDiff = Window.orderBy(col("__d").asc, col("__b").asc)
    val ci = rep.withColumn("__rn", row_number().over(byDiff))
      .agg(count(lit(1)).cast("int").as("n_reps"),
        max(when(col("__rn") === loRank, col("__d"))).as("lo_fp"),
        max(when(col("__rn") === hiRank, col("__d"))).as("hi_fp"))
      // too many dropped replicates (an arm drew zero weight in more
      // than reps − hiRank of them) would silently NULL hi_fp — fail
      // loudly instead (r16 advice)
      .select(expr(s"""case when n_reps < $hiRank
               then cast(raise_error(concat('meanDiffCI: ',
                 cast(n_reps as string),
                 ' surviving replicates < hiRank $hiRank')) as int)
               else n_reps end""").as("n_reps"),
        col("lo_fp"), col("hi_fp"))
    val point = base.agg(
      sum(when(col("__arm") === 1, col("__v")).otherwise(0L)).as("ps1"),
      count(when(col("__arm") === 1, lit(1))).as("pn1"),
      sum(when(col("__arm") === 2, col("__v")).otherwise(0L)).as("ps2"),
      count(when(col("__arm") === 2, lit(1))).as("pn2"))
      // An absent arm must FAIL, not null: Spark's integer div would
      // yield a silent NULL row here while the oracle replay raises a
      // division-by-zero — fail fast so degenerate inputs behave
      // identically on both engines (r16 advice).
      .select(
        expr(s"""case when pn1 = 0 or pn2 = 0
                 then cast(raise_error('meanDiffCI: an arm has no rows')
                   as bigint)
                 else (ps1 + pn1 * $OffsetFp) div pn1 - $OffsetFp
                 end""").as("pm1"),
        expr(s"(ps2 + pn2 * $OffsetFp) div pn2 - $OffsetFp").as("pm2"),
        col("pn1").as("n1"), col("pn2").as("n2"))
      .select(col("n1"), col("n2"), (col("pm1") - col("pm2")).as("point_fp"))
    ci.crossJoin(broadcast(point))
      .select(col("n_reps"), col("n1"), col("n2"), col("point_fp"),
        col("lo_fp"), col("hi_fp"))
  }

  /** Per-group percentile-bootstrap mean CI — the dashboard form of
    * [[meanDiffCI]]: one replicate-weighted pass builds groups × reps
    * cells (map-side combined), exact integer means per cell, and each
    * group's CI from exact ranks of ITS replicate distribution (the
    * rank window partitions by group, so groups rank in parallel —
    * never a global sort). The weight key is (unit id, replicate) only,
    * NOT the group: a unit keeps one multiplicity wherever it appears,
    * and groups are independently honest panels.
    *
    * @return one row per group: group, n, n_reps, point_fp, lo_fp, hi_fp
    */
  def groupMeanCI(df: DataFrame, groupCol: String, idCol: String,
                  valueFpCol: String, reps: Int, loRank: Int,
                  hiRank: Int): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      col(idCol).cast("string").as("__id"),
      col(valueFpCol).cast("long").as("__v"))
    // same spread rationale as meanDiffCI: keep the generate+hash stage
    // wide regardless of how few splits the input arrives in
    val spread = base.repartition(
      base.sparkSession.sessionState.conf.numShufflePartitions)
    val rep = spread
      .select(col("*"), explode(sequence(lit(0), lit(reps - 1))).as("__b"))
      .withColumn("__w", poissonWeight(
        concat(col("__id"), lit(":"), col("__b").cast("string"))))
      .groupBy("__g", "__b")
      .agg(sum(col("__w") * col("__v")).as("s"), sum(col("__w")).as("n"))
      .filter(col("n") > 0)
      .withColumn("__m", expr(s"(s + n * $OffsetFp) div n - $OffsetFp"))
    val byG = Window.partitionBy("__g")
      .orderBy(col("__m").asc, col("__b").asc)
    val ci = rep.withColumn("__rn", row_number().over(byG))
      .groupBy("__g")
      .agg(count(lit(1)).cast("int").as("n_reps"),
        max(when(col("__rn") === loRank, col("__m"))).as("lo_fp"),
        max(when(col("__rn") === hiRank, col("__m"))).as("hi_fp"))
      // a group too small to retain hiRank replicates would silently
      // NULL its CI bounds — fail loudly per group instead (r16 advice)
      .select(col("__g"),
        expr(s"""case when n_reps < $hiRank
                 then cast(raise_error(concat('groupMeanCI: group ',
                   cast(__g as string), ' has ', cast(n_reps as string),
                   ' surviving replicates < hiRank $hiRank')) as int)
                 else n_reps end""").as("n_reps"),
        col("lo_fp"), col("hi_fp"))
    val point = base.groupBy("__g")
      .agg(sum("__v").as("ps"), count(lit(1)).as("pn"))
      .select(col("__g"), col("pn").as("n"),
        expr(s"(ps + pn * $OffsetFp) div pn - $OffsetFp").as("point_fp"))
    ci.join(point, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("n_reps"),
        col("point_fp"), col("lo_fp"), col("hi_fp"))
  }

  /** Delete-one-bucket jackknife for a RATIO metric (numerator sum /
    * denominator sum — CTR, revenue-per-session, tokens-per-doc): the
    * production-standard variance estimate for the metric class where
    * per-unit ratios are undefined or wild (Quenouille 1956; the
    * bucketed form every large experimentation platform ships, because
    * the delta method needs covariances and the unit-level bootstrap
    * needs per-unit resampling — B hash buckets give an
    * embarrassingly-parallel leave-one-out). Units land in `buckets`
    * deterministic md5 buckets ([[Sampling.hashRank]] mod B, the
    * engine-replayable draw); R_b = (Σnum − num_b)/(Σden − den_b);
    * var_jk = (B−1)/B · Σ_b (R_b − R̄)².
    *
    * Exactness: bucket sums are exact longs (ONE corpus pass,
    * map-side combined); the B leave-one-out ratios and the variance
    * fold are double arithmetic on those exact integers (÷, ×, √ —
    * IEEE-correctly-rounded), rounded at the readout.
    *
    * @return one row: n_buckets, num_total, den_total, ratio (6 dp),
    *         se_jk (6 dp), lo/hi (ratio ± 1.96·se, 6 dp)
    */
  def jackknifeRatio(df: DataFrame, idCol: String, numCol: String,
                     denCol: String, buckets: Int = 50): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val per = df.select(
      (Sampling.hashRank(col(idCol).cast("string")) % buckets).as("b"),
      col(numCol).cast("long").as("num"), col(denCol).cast("long").as("den"))
    val byB = per.groupBy("b")
      .agg(sum("num").as("nb"), sum("den").as("db"))
    val tot = byB.agg(sum("nb").as("nt"), sum("db").as("dt"),
      count(lit(1)).as("bpresent"))
    // leave-one-out ratios as EXACT 10^9 fixed-point integers (lifted
    // floor division): a double r_b here would make the variance fold
    // depend on float summation ORDER across partitions — the moments
    // below must be exact decimals so the fold is deterministic and
    // engine-replayable. Empty leave-one-out denominators fail fast.
    val loo = byB.crossJoin(broadcast(tot))
      .withColumn("r_fp", expr(
        s"""case when dt - db <= 0
           then cast(raise_error(
             'jackknifeRatio: a leave-one-out denominator is empty')
             as decimal(38,0))
           else (cast(nt - nb as decimal(38,0)) * 1000000000
                 + cast(dt - db as decimal(38,0)) * $OffsetFp) div (dt - db)
                - $OffsetFp end"""))
    val folded = loo.agg(
      max("bpresent").as("n_buckets"), max("nt").as("num_total"),
      max("dt").as("den_total"),
      sum(col("r_fp")).as("s1"),
      sum(col("r_fp") * col("r_fp")).as("s2"),
      count(lit(1)).cast("long").as("bcnt"))
    // exact integer moments -> one scalar double readout; the jackknife
    // variance in fp^2 units is (B-1)/B * (S2 - S1^2/B), se back in
    // ratio units via the 10^9 descale
    val seExpr =
      """sqrt((cast(bcnt as double) - 1.0) / cast(bcnt as double)
              * (cast(s2 as double)
                 - cast(s1 as double) * cast(s1 as double)
                   / cast(bcnt as double)))
         / 1000000000.0"""
    folded.select(col("n_buckets"), col("num_total"), col("den_total"),
      round(expr("cast(num_total as double) / cast(den_total as double)"), 6)
        .as("ratio"),
      round(expr(seExpr), 6).as("se_jk"),
      round(expr(
        s"""cast(num_total as double) / cast(den_total as double)
           - 1.96 * $seExpr"""), 6).as("lo"),
      round(expr(
        s"""cast(num_total as double) / cast(den_total as double)
           + 1.96 * $seExpr"""), 6).as("hi"))
  }
}
